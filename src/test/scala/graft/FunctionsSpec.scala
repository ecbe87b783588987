package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.PyTitleCase
import graft.functions.{Cleaning, Text, Vec}

/** Unit tests for the column-function layer (SURVEY.md §2.8, §5 test plan):
  * sentinel zoo, normalizers, validity predicates, text metrics, vector math,
  * and Python str.title() parity. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c).head().get(0)

  private def evalStr(input: Option[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
    Seq(input).toDF("v").select(f(col("v"))).head().get(0)

  // ------------------------------------------------------------- Cleaning

  test("isMissing covers the sentinel zoo (clean_contacts.py:206 + pandas na_values)") {
    val missing = Seq(None, Some(""), Some("  "), Some("nan"), Some("None"),
      Some("NaN"), Some(" nan "),
      // pandas' default na_values subset: nulled by every reference read
      // BEFORE any reference code runs (the fill-lane 'N/A' finding)
      Some("N/A"), Some("n/a"), Some("NA"), Some("#N/A"), Some("NULL"),
      Some("null"), Some("<NA>"), Some(" N/A "))
    // pandas' list is case-sensitive: these are DATA
    val present = Seq(Some("x"), Some("0"), Some("Nanette"), Some("Null"),
      Some("Na"), Some("n/A"))
    for (v <- missing)
      assert(evalStr(v, Cleaning.isMissing) == true, s"expected missing: $v")
    for (v <- present)
      assert(evalStr(v, Cleaning.isMissing) == false, s"expected present: $v")
  }

  test("pyStrip matches Python str.strip(): Unicode whitespace, both ends") {
    // str.isspace() characters that Spark's ASCII-only trim leaves
    // behind: NBSP, thin space, ideographic space + NEL, unit separator
    val cases = Seq(
      "\u00a0John Tourloukis" -> "John Tourloukis",
      "\u2009lead and trail \t\n\u2009" -> "lead and trail",
      "\u3000\u0085x" -> "x",
      "\u001fsep\u001f" -> "sep",
      "inner\u00a0kept" -> "inner\u00a0kept", // only ENDS are stripped
      "" -> "")
    for ((in0, want) <- cases)
      assert(evalStr(Some(in0), Cleaning.pyStrip) == want,
        s"pyStrip(${in0.map(c => f"\\u${c.toInt}%04x").mkString}) mismatch")
    assert(evalStr(None, Cleaning.pyStrip) == null)
    // more of Python's strip set: ogham space, en-quad..hair-space block,
    // narrow no-break, medium math space, line/paragraph separators
    for (ws <- Seq('\u1680', '\u2000', '\u200a', '\u202f', '\u205f',
        '\u2028', '\u2029', '\u000b', '\u000c', '\u001c'))
      assert(evalStr(Some(s"${ws}x$ws"), Cleaning.pyStrip) == "x",
        f"\\u${ws.toInt}%04x not stripped")
    // NOT in Python's set: zero-width space stays
    assert(evalStr(Some("\u200bx"), Cleaning.pyStrip) == "\u200bx")
  }

  test("Clean.UnusedFields is the reference's exact UNUSED_FIELDS list") {
    // clean_contacts.py:16-23 verbatim — a transcription drift here nulls
    // fields the reference keeps (or keeps fields it nulls) and only the
    // parity lane would notice; pin it
    val reference = Seq(
      "SALUTATION", "DIRECTPHONE", "DIRECTFAX", "HOMEPHONE",
      "MSN_ID", "YAHOO_ID", "SKYPE_ID", "SYNC_CONTACTS", "LINKEDIN",
      "TWITTER", "FACEBOOK", "CAMPAIGN_WAVE_SEQNO", "LATITUDE",
      "LONGITUDE", "GEOCODE_STATUS", "X_STORE", "X_EMAIL2", "X_EMAIL3",
      "X_PHONE1", "X_PHONE2", "X_PHONE3", "X_PHONE4", "X_PHONE5",
      "X_TT_EXTENSION", "X_REGION")
    assert(graft.pipeline.Clean.UnusedFields == reference)
  }

  test("normPhone keeps last 10 digits only when >= 10 (fill:14-21)") {
    assert(evalStr(Some("+1 (555) 123-4567"), Cleaning.normPhone) == "5551234567")
    assert(evalStr(Some("123-4567"), Cleaning.normPhone) == "1234567")
    assert(evalStr(Some("64 21 555 123 4567"), Cleaning.normPhone) == "5551234567")
  }

  test("email regex anchors at start only, like Python re.match (C6)") {
    assert(evalStr(Some("a@b.co"), Cleaning.validEmail) == true)
    assert(evalStr(Some("a@b.co extra junk"), Cleaning.validEmail) == true) // unanchored end
    // Python re.match also accepts "junk a@b.co" ([^@]+ eats the space)
    assert(evalStr(Some("junk a@b.co"), Cleaning.validEmail) == true)
    assert(evalStr(Some("@b.co"), Cleaning.validEmail) == false) // anchored start
    assert(evalStr(Some("nope"), Cleaning.validEmail) == false)
    assert(evalStr(Some("a@b"), Cleaning.validEmail) == false) // needs a dot
    assert(evalStr(Some("a@b@c.com"), Cleaning.validEmail) == false)
  }

  test("ynFlag keeps ONLY Y/N after strip+upper (clean:137-142)") {
    val kept = Seq("y" -> "Y", "Y" -> "Y", " n " -> "N", "N" -> "N")
    for ((in, out) <- kept)
      assert(evalStr(Some(in), Cleaning.ynFlag) == out, s"$in -> $out")
    // reference parity: boolean SPELLINGS are not remapped — the master's
    // observed '-1'/'0'/'2'/latitude junk in SUB columns all null out
    for (in <- Seq("yes", "true", "1", "No", "false", "0", "-1", "2",
        "maybe", "146.0075699"))
      assert(evalStr(Some(in), Cleaning.ynFlag) == null, s"$in -> null")
    assert(evalStr(None, Cleaning.ynFlag) == null)
  }

  test("dedupKey: email wins, else fullname-mobile (clean:164-179)") {
    def key(e: Option[String], f: Option[String], m: Option[String]) =
      Seq((e, f, m)).toDF("e", "f", "m")
        .select(Cleaning.dedupKey(col("e"), col("f"), col("m"))).head().getString(0)
    assert(key(Some("A@B.com"), Some("Jo Do"), Some("123")) == "a@b.com")
    assert(key(Some(""), Some(" Jo  Do "), Some("(123)")) == "jo do-123")
    assert(key(None, None, None) == "-")
  }

  test("matchesAtLeast k-of-n truth table (F7, fill:34-45)") {
    def m(k: Int, a: (String, String), b: (String, String)) =
      Seq((a._1, a._2, b._1, b._2)).toDF("a1", "a2", "b1", "b2")
        .select(Cleaning.matchesAtLeast(k,
          (col("a1"), col("a2")), (col("b1"), col("b2")))).head().getBoolean(0)
    assert(m(2, ("x", "x"), ("y", "y")))
    assert(!m(2, ("x", "x"), ("y", "z")))
    assert(m(1, ("x", "x"), ("y", "z")))
    assert(!m(1, ("", ""), ("y", "z"))) // empty never matches
  }

  test("parseTs: lenient multi-format, null on failure (C8)") {
    assert(evalStr(Some("2010-12-13 14:54:49.000"), Cleaning.parseTs) != null)
    assert(evalStr(Some("2010-12-13 14:54:49"), Cleaning.parseTs) != null)
    assert(evalStr(Some("2010-12-13"), Cleaning.parseTs) != null)
    assert(evalStr(Some("not a date"), Cleaning.parseTs) == null)
  }

  // ------------------------------------------------------------ PyTitleCase

  test("PyTitleCase matches Python str.title() semantics (C5)") {
    val cases = Seq(
      "o'brien" -> "O'Brien",           // initcap would give O'brien
      "abc2d" -> "Abc2D",               // digit restarts the word
      "hello world" -> "Hello World",
      "MIXED case" -> "Mixed Case",
      "" -> "",
      "x" -> "X",
      "jean-luc" -> "Jean-Luc",
      "it's" -> "It'S")                 // faithful to Python's quirk
    for ((in, out) <- cases)
      assert(PyTitleCase.titleCase(in) == out, s"'$in' -> '$out'")
  }

  test("PyTitleCase column path (interpreted + codegen) agrees") {
    val df = Seq("o'brien", "abc2d", "a b c").toDF("v")
    val got = df.select(Cleaning.pyTitle(col("v")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("O'Brien", "Abc2D", "A B C"))
  }

  // ------------------------------------------------------------------ Text

  test("tokens / shingles shapes") {
    val df = Seq("the quick  brown fox").toDF("t")
    assert(df.select(Text.tokenCount(col("t"))).head().getInt(0) == 4)
    val sh = df.select(Text.wordShingles(col("t"), 3)).head().getSeq[String](0)
    assert(sh == Seq("the quick brown", "quick brown fox"))
    val short = Seq("one two").toDF("t")
      .select(Text.wordShingles(col("t"), 3)).head().getSeq[String](0)
    assert(short == Seq("one two"))
  }

  test("native VecDotI8 == HOF dequantized dot (randomized)") {
    // executable spec: widen the codes with transform() and fold with
    // aggregate() — the interpreted form VecDotI8 replaced on the hot path
    val rnd = new scala.util.Random(13)
    val rows = (1 to 50).map { _ =>
      val n = 1 + rnd.nextInt(12)
      (Array.fill(n)(rnd.nextGaussian()),
        Array.fill(n)(rnd.nextInt(255) - 127)) // Array[Byte] encodes BINARY
    }
    val df = rows.toDF("q", "code_i")
      .withColumn("code", transform(col("code_i"), x => x.cast("tinyint")))
    val out = df.select(
      graft.expressions.VecDotI8.column(col("q"), col("code")).as("native"),
      aggregate(zip_with(col("q"),
          transform(col("code"), b => b.cast("double")), _ * _),
        lit(0.0), _ + _).as("hof")).collect()
    for (r <- out)
      assert(r.getDouble(0) == r.getDouble(1),
        s"diverged: native=${r.getDouble(0)} hof=${r.getDouble(1)}")
  }

  test("native HammingDist == HOF popcount fold (incl. length mismatch)") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 60).map { _ =>
      (Array.fill(1 + rnd.nextInt(4))(rnd.nextLong()),
        Array.fill(1 + rnd.nextInt(4))(rnd.nextLong()))
    }
    val out = rows.toDF("a", "b").select(col("a"), col("b"),
      graft.expressions.HammingDist.column(col("a"), col("b"))
        .as("native")).collect()
    for (r <- out) {
      val a = r.getSeq[Long](0); val b = r.getSeq[Long](1)
      val expected = a.padTo(math.max(a.size, b.size), 0L)
        .zip(b.padTo(math.max(a.size, b.size), 0L))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
      assert(r.getLong(2) == expected,
        s"diverged: native=${r.getLong(2)} expected=$expected")
    }
  }

  test("native WordShingles == HOF composition (incl. null/empty/unicode)") {
    // the HOF form is the executable spec the native expression replaced on
    // the hot path — outputs must stay byte-identical, including the [""]
    // fallback for null/empty/short docs
    val rnd = new scala.util.Random(7)
    val vocab = Seq("the", "Quick", "brown", "FOX", "straße", "早", "a1", "-")
    val generated = (1 to 60).map { _ =>
      (0 until rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(Seq(" ", "  ", "\t", "\n")(rnd.nextInt(4)))
    }
    val edge = Seq(null, "", " ", "\t\n", "one", "one two", "  pad  ")
    val df = (generated ++ edge).toDF("t")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = df.select(
        Text.wordShingles(col("t"), n).as("native"),
        Text.wordShinglesHof(col("t"), n).as("hof")).collect()
      for (r <- rows)
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n diverged: native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
    }
  }

  test("native DocFingerprint == HOF md5 fold (incl. null/empty/unicode)") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "BETA", "straße", "早口", "x9", "#", "a-b")
    val generated = (1 to 60).map { _ =>
      (0 until rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(Seq(" ", "  ", "\t")(rnd.nextInt(3)))
    }
    val df = (generated ++ Seq(null, "", " ", "solo")).toDF("t")
    val rows = df.select(Text.fingerprint(col("t")).as("native"),
      Text.fingerprintHof(col("t")).as("hof")).collect()
    for (r <- rows)
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"diverged: native=${r.get(0)} hof=${r.get(1)}")
  }

  /** The higher-order-function formulation of [[Text.cdcChunks]] that the
    * native [[graft.expressions.CdcChunks]] kernel replaced: the executable
    * spec it is tested against. zip_with evaluates the `ends` array once
    * per row (an element_at(ends, j) lambda re-evaluated it, md5 per
    * position, inside every invocation). */
  private def cdcChunksHof(c: org.apache.spark.sql.Column,
      w: Int): org.apache.spark.sql.Column = {
    val boundaryEnds = when(length(c) >= w,
      filter(sequence(lit(w), length(c)),
        e => substring(md5(c.substr(e - (w - 1), lit(w))), 1, 1) === "0"))
      .otherwise(array().cast("array<int>"))
    val ends = array_sort(array_distinct(
      concat(boundaryEnds, array(length(c)))))
    val starts = concat(array(lit(0)),
      slice(ends, lit(1), greatest(size(ends) - 1, lit(0))))
    val chunks = zip_with(starts, ends,
      (s0, e0) => c.substr(s0 + 1, e0 - s0))
    filter(chunks, ch => length(ch) > 0)
  }

  test("native CdcChunks == HOF chunking (interpreted and codegen-only)") {
    val w = 8
    val rnd = new scala.util.Random(23)
    // 1-, 2-, 3- and 4-byte code points (the emoji is a surrogate pair in
    // UTF-16), NBSP and tabs
    val alphabet = Seq("a", "b", "Q", " ", "\t", "\u00a0", "é", "早", "言",
      "\ud83d\ude00", ".", "7")
    val generated = (1 to 80).map { _ =>
      Seq.fill(rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    def cps(n: Int, from: Seq[String]) =
      Seq.fill(n)(from(rnd.nextInt(from.size))).mkString
    val lengths = for (n <- Seq(w - 1, w, w + 1);
        from <- Seq(Seq("x", "y"), alphabet)) yield cps(n, from)
    // a boundary on the last character: the final window's md5 starts '0'
    def md5Hex(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val lastCut = Iterator.from(0).map(i => s"ends on a cut $i")
      .find(t => md5Hex(t.takeRight(w)).startsWith("0")).get
    val texts: Seq[String] = generated ++ lengths ++
      Seq(null, "", lastCut, "\ud83d\ude00" * 20, "早口言葉" * 10, "\t\t\u00a0 é" * 9)
    val ref = texts.toDF("t").select(cdcChunksHof(col("t"), w))
      .collect().map(_.getSeq[String](0)).toSeq
    // a scan of an RDD, not a local relation: the projection then runs in
    // a physical plan, where the mode below picks interpreted or generated
    val rows = spark.sparkContext.parallelize(texts.zipWithIndex, 3)
      .map { case (t, i) => org.apache.spark.sql.Row(i, t) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("i INT, t STRING")
    def native() = spark.createDataFrame(rows, schema)
      .select(col("i"), Text.cdcChunks(col("t"), w)).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1)).sortBy(_._1).map(_._2).toSeq
    val modes = Seq(
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen-only" -> Seq("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    for ((mode, kv) <- modes) {
      val got = SparkTestSession.withConf(kv: _*)(native())
      assert(got.size == texts.size)
      for (((t, g), r) <- texts.zip(got).zip(ref))
        assert(g == r, s"$mode diverged on '$t': native=$g hof=$r")
    }
  }

  test("native BpeCount == HOF extract-then-fold (incl. null/digits/punct)") {
    val cases = Seq(null, "", "abc", "abcdefgh", "a1b2", "hello, world!!",
      "x".repeat(13), "...", "tab\tsep 42", "早口言葉 mixed ascii")
    val df = cases.toDF("t")
    val rows = df.select(Text.bpeTokenCount(col("t")).as("native"),
      Text.bpeTokenCountHof(col("t")).as("hof")).collect()
    for (r <- rows)
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"diverged: native=${r.get(0)} hof=${r.get(1)}")
  }

  test("fingerprint: portable rolling hash, order-sensitive") {
    def fp(s: String) = Seq(s).toDF("t").select(Text.fingerprint(col("t")))
      .head().getLong(0)
    assert(fp("a b c") != fp("c b a")) // order matters
    assert(fp("a b c") == fp(" a  b c ")) // whitespace-normalized
    assert(fp("") == 0L)
    assert(fp("a b c") >= 0 && fp("a b c") < Text.P31)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val pert = (2 to 60).map(i => s"tok$i").mkString(" ") // one token dropped
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    val df = Seq(base, pert, far).toDF("t")
      .select(Text.simhash(col("t"), 64).as("h")).collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(df(0), df(1)) <= 8, s"near pair hamming ${ham(df(0), df(1))}")
    assert(ham(df(0), df(2)) > 16, s"far pair hamming ${ham(df(0), df(2))}")
  }

  test("quality score in [0,1]; langId picks marker language") {
    val df = Seq(
      "the cat and the dog went to the market in the morning",
      "der hund und die katze ist nicht mit der maus",
      "xyzzy plugh").toDF("t")
      .select(Text.qualityScore(col("t")).as("q"), Text.langId(col("t")).as("l"))
      .collect()
    for (r <- df) {
      val q = r.getDouble(0)
      assert(q >= 0.0 && q <= 1.0)
    }
    assert(df(0).getString(1) == "en")
    assert(df(1).getString(1) == "de")
    assert(df(2).getString(1) == "und")
  }

  test("simhashPortable (per-row fold) == simhashAgg (aggregation form)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b c d e f g h i j k l m"),
      (3L, "word " * 40),
      (4L, ""), // zero tokens: BOTH forms must answer simhash 0 (the
      (5L, "   ")) // aggregation form restores the row via explode_outer)
      .toDF("doc_id", "text")
    val perRow = docs.select(col("doc_id").as("id"),
      graft.functions.Text.simhashPortable(col("text"), 32).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = graft.operators.Dedup.simhashAgg(docs, "doc_id", "text",
      bits = 32, tokenHash = graft.functions.Text.md5Long)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == agg, s"per-row $perRow != agg $agg")
  }

  // ------------------------------------------------------------------- Vec

  test("vector math: dot / norm / cosine") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b")
    assert(df.select(Vec.dot(col("a"), col("b"))).head().getDouble(0) == 0.0)
    assert(math.abs(df.select(Vec.cosine(col("a"), col("a"))).head().getDouble(0) - 1.0) < 1e-12)
    assert(df.select(Vec.cosine(col("a"), col("b"))).head().getDouble(0) == 0.0)
    // zero vector -> null, not divide-by-zero
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(z.select(Vec.cosine(col("a"), col("b"))).head().get(0) == null)
  }

  // -------------------------------------------------------------- redactPii

  test("redactPii scrubs emails and NANP phones, leaves prose alone") {
    def redact(s: String): String =
      Seq(s).toDF("v").select(Text.redactPii(col("v"))).head().getString(0)
    assert(redact("mail a.b+c%d@sub.example.co.uk today")
      == "mail <EMAIL> today")
    assert(redact("call 555-867-5309 or (555) 867-5309 or +1 555.867.5309")
      == "call <PHONE> or <PHONE> or <PHONE>")
    assert(redact("x@y.com and 1-555-867-5309") == "<EMAIL> and <PHONE>")
    // non-PII digits and words survive
    assert(redact("order 1234 of 10 items in 2021") ==
      "order 1234 of 10 items in 2021")
    val counts = Seq("a@b.io c@d.io 555-867-5309").toDF("v")
      .select(Text.emailCount(col("v")), Text.phoneCount(col("v"))).head()
    assert(counts.getInt(0) == 2 && counts.getInt(1) == 1)
  }

  // ------------------------------------------------------------ MisraGries

  private def mgCandidates(values: Seq[String], k: Int,
      partitions: Int = 7): Set[String] =
    values.toDF("v").repartition(partitions)
      .agg(Text.heavyHitterCandidates(col("v"), k))
      .head().getSeq[String](0).toSet

  test("MisraGries retains every value above n/(k+1) (guarantee)") {
    // adversarial for small sketches: a majority item drip-fed between
    // bursts of distinct one-off keys that keep forcing shrinks
    val stream = (0 until 600).flatMap(i => Seq("major", s"noise$i"))
    val got = mgCandidates(stream, k = 8)
    assert(got.contains("major"))
    assert(got.size <= 8)

    // randomized Zipf-ish streams across several seeds; partial aggregation
    // across 7 partitions exercises serialize/deserialize + merge
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val vals = (0 until 4000).map(_ =>
        s"w${math.min(99, math.abs(rnd.nextGaussian() * 12).toInt)}")
      val k = 16
      val exact = vals.groupBy(identity).view.mapValues(_.size)
      val heavy = exact.filter(_._2 * (k + 1) > vals.size).keySet
      val got2 = mgCandidates(vals, k)
      assert(got2.size <= k)
      assert(heavy.subsetOf(got2),
        s"seed $seed: missed ${heavy -- got2} (guaranteed heavy)")
    }
  }

  test("VecSum == posexplode sum (multi-partition, multi-group)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i % 5, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("g", "vec").repartition(9)
    val native = rows.groupBy("g")
      .agg(Vec.sumAgg(col("vec")).as("s"))
      .select(col("g"), explode(col("s")).as("v"))
      .groupBy("g").agg(round(sum(col("v")), 6).as("t"))
      .orderBy("g").collect().map(_.getDouble(1)).toSeq
    val exploded = rows
      .select(col("g"), posexplode(Vec.asDouble(col("vec"))).as(Seq("p", "v")))
      .groupBy("g").agg(round(sum(col("v")), 6).as("t"))
      .orderBy("g").collect().map(_.getDouble(1)).toSeq
    assert(native == exploded)
    // empty-input group: all-null vectors sum to an empty array
    val empty = Seq((1, null: Array[Float])).toDF("g", "vec")
      .groupBy("g").agg(Vec.sumAgg(col("vec")).as("s"))
      .head().getSeq[Double](1)
    assert(empty.isEmpty)
  }

  test("VecSum rejects corrupt inputs instead of summing them wrong") {
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.agg(Vec.sumAgg(col("vec"))).collect()
    // mixed dimensions: silent truncation would corrupt every mean built
    // on top (k-means centroids, label prototypes)
    val mixed = intercept[Exception] {
      run(Seq(Array(1.0f, 2.0f), Array(1.0f)).toDF("vec"))
    }
    assert(mixed.getMessage.contains("mixed vector dimensions"), mixed)
    // zero-length vectors are indistinguishable from the uninit buffer
    val zero = intercept[Exception] {
      run(Seq(Array.empty[Float], Array(1.0f)).toDF("vec"))
    }
    assert(zero.getMessage.contains("zero-length"), zero)
    // null COMPONENT (not a null vector) would unbox to 0.0
    val nullComp = intercept[Exception] {
      run(Seq(Seq[Option[Double]](Some(1.0), None)).toDF("vec"))
    }
    assert(nullComp.getMessage.contains("null component"), nullComp)
  }

  test("MisraGries candidate order is sorted and deterministic") {
    val vals = Seq.fill(50)("b") ++ Seq.fill(50)("a") ++ Seq.fill(5)("z")
    val arr = vals.toDF("v").repartition(3)
      .agg(Text.heavyHitterCandidates(col("v"), 4))
      .head().getSeq[String](0)
    assert(arr == arr.sorted)
    assert(arr.containsSlice(Seq("a", "b")))
  }

  // ------------------------------------------------------------------ Bloom

  test("Bloom: zero false negatives, partitioning-invariant words") {
    import graft.expressions.Bloom
    val keys = (1 to 2000).map(_ => scala.util.Random.nextLong()).distinct
    val df = keys.toDF("k")
    val bits = Bloom.buildFrom(df, col("k"), numBits = 1 << 15, numHashes = 5)
    val bits2 = Bloom.buildFrom(df.repartition(13), col("k"),
      numBits = 1 << 15, numHashes = 5)
    assert(bits == bits2, "word state must be merge-order independent")
    // every inserted key must test positive (the conservative guarantee)
    val hits = df.select(Bloom.mightContainCol(lit(bits.toArray), col("k"),
        1 << 15, 5).as("h"))
      .filter(!col("h")).count()
    assert(hits == 0L, s"$hits false negatives")
  }

  test("Bloom: false-positive rate on a disjoint probe set is bounded") {
    import graft.expressions.Bloom
    val ins = (0L until 3000L).map(i => i * 2)       // even keys inserted
    val probe = (0L until 3000L).map(i => i * 2 + 1) // odd keys probed
    val bits = Bloom.buildFrom(ins.toDF("k"), col("k"),
      numBits = 1 << 16, numHashes = 5)
    val fp = probe.toDF("k")
      .select(Bloom.mightContainCol(lit(bits.toArray), col("k"),
        1 << 16, 5).as("h"))
      .filter(col("h")).count()
    // m/n ~ 21.8 bits/key at k=5 -> theoretical fpp ~ 0.04%; allow 1%
    assert(fp <= 30L, s"$fp false positives out of 3000 disjoint probes")
  }

  test("Bloom-pruned join == plain join (false positives die in the join)") {
    import graft.expressions.Bloom
    val dim = (1L to 50L).filter(_ % 3 == 0).toDF("k")
    val fact = (1L to 500L).map(i => (i % 60, i)).toDF("k", "v")
    val bits = Bloom.buildFrom(dim, col("k"), numBits = 64, numHashes = 2)
    // tiny filter (64 bits for 16 keys) forces real false positives, so
    // this also proves the conservative contract end-to-end
    val pruned = fact
      .filter(Bloom.mightContainCol(lit(bits.toArray), col("k"), 64, 2))
      .join(dim, "k").agg(count(lit(1)), sum(col("v"))).head()
    val plain = fact.join(dim, "k").agg(count(lit(1)), sum(col("v"))).head()
    assert(pruned == plain)
  }

  // -------------------------------------------------------------- Count-Min

  test("CMS: never undercounts, partitioning-invariant, bounded overcount") {
    import graft.expressions.CountMin
    val rnd = new scala.util.Random(23)
    // zipf-ish stream: key i appears ~ 2000/i times
    val stream = (1 to 60).flatMap(i => Seq.fill(2000 / i)(s"key$i")) ++
      (1 to 500).map(i => s"rare${rnd.nextInt(100000)}")
    val df = stream.toDF("k")
    val exact = stream.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val m = CountMin.buildFrom(df, col("k"), w = 512, d = 4)
    val m2 = CountMin.buildFrom(df.repartition(9), col("k"), w = 512, d = 4)
    assert(m == m2, "counter matrix must be merge-order independent")
    val est = df.distinct()
      .select(col("k"), CountMin.estimateCol(lit(m.toArray), col("k"),
        512, 4).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = stream.size
    val bound = math.ceil(math.E / 512 * n).toLong
    for ((k, c) <- exact) {
      assert(est(k) >= c, s"undercount for $k: ${est(k)} < $c")
      assert(est(k) <= c + bound, s"overcount for $k: ${est(k)} > $c + $bound")
    }
  }

  test("CMS heavy keys are exact when the sketch is wide enough") {
    import graft.expressions.CountMin
    // 5 keys in a 4096-wide, depth-5 sketch: collision odds per key-row
    // ~ 4/4096; all five rows colliding simultaneously is ~1e-15 — the
    // estimate must equal the exact count
    val stream = (1 to 5).flatMap(i => Seq.fill(i * 7)(s"k$i"))
    val df = stream.toDF("k")
    val m = CountMin.buildFrom(df, col("k"), w = 4096, d = 5)
    val est = df.distinct()
      .select(col("k"), CountMin.estimateCol(lit(m.toArray), col("k"),
        4096, 5).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (i <- 1 to 5) assert(est(s"k$i") == i * 7L)
  }

  test("cdcChunks: partition property, short/empty text, determinism") {
    import graft.functions.Text
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog " * 20,
      "abcdefg",          // shorter than the window -> one chunk
      "x" * 8, "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(col("id"), col("text"),
        Text.cdcChunks(col("text"), 8).as("ch"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2))).toList
    for ((_, t, ch) <- rows) {
      assert(ch.mkString == t)          // chunks concatenate to the input
      assert(ch.forall(_.nonEmpty))
      if (t.nonEmpty && t.length < 8) assert(ch == Seq(t))
      if (t.isEmpty) assert(ch.isEmpty)
    }
    // repeated content yields identical chunk sequences
    val (_, _, c0) = rows.head
    assert(c0.size > 1, "long text must produce multiple chunks")
  }

  test("cdcChunks: boundaries are content-local — a prefix edit reflows " +
      "only the head") {
    import graft.functions.Text
    val base = "the quick brown fox jumps over the lazy dog " * 30
    val edited = "INSERTED-PREFIX " + base
    val Seq(cBase, cEdit) = Seq(base, edited).zipWithIndex
      .map { case (t, i) => (i, t) }.toDF("i", "t")
      .orderBy("i")
      .select(Text.cdcChunks(col("t"), 8))
      .collect().map(_.getSeq[String](0)).toSeq
    // all chunks after the first boundary of the edited copy realign:
    // the shared suffix of the two chunk sequences covers almost all of
    // the base text (fixed-grid chunking would share nothing)
    val shared = cBase.reverse.zip(cEdit.reverse).takeWhile {
      case (a, b) => a == b
    }.map(_._1.length).sum
    assert(shared > base.length / 2,
      s"only $shared of ${base.length} chars realigned")
  }
}
