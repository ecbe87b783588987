package graft

import org.apache.hadoop.fs.Path

import graft.operators.IndexGen

/** Raw `meta.json` text of a persisted index at `path`, read and rewritten
  * through the index's own Hadoop filesystem: the local fs keeps a CRC
  * sidecar that a raw java.nio rewrite would invalidate. */
object MetaJson {
  private def file(path: String) =
    (IndexGen.fs(SparkTestSession.spark, path), new Path(s"$path/meta.json"))

  def read(path: String): String = {
    val (fs, p) = file(path)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  def write(path: String, text: String): Unit = {
    val (fs, p) = file(path)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}
