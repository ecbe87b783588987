package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Cleaning

/** The golden-record merge as ONE row-wide aggregate: for every value
  * column, the group's most complete value. A value is a candidate when its
  * string form is present under [[Cleaning.isMissing]]'s rule (non-null,
  * not empty after trimming spaces, not a missing sentinel); among
  * candidates the longest string form (in code points) wins, ties go to
  * the latest `ts`, then to the largest `negRow` (null lowest), and a full
  * tie keeps the first value seen. A column with no candidate is null.
  *
  * Why one aggregate and not one `max_by` per column: a `max_by` over a
  * string has a variable-width buffer, so Spark plans the per-column form
  * as a SortAggregate that sorts every row on both sides of the exchange
  * and builds one ordering struct per cell. This buffer is one flat object
  * per group, so the merge plans as ObjectHashAggregate (partial + final,
  * no sort below the 128-keys-per-task fallback) and does one pass per row.
  *
  * Children: `ts` (non-null timestamp), `negRow` (any orderable type),
  * then the n value columns, then their n string forms. Output:
  * `struct<c0, …, c(n-1)>` in the value columns' own types.
  */
case class GoldenMerge(
    ts: Expression,
    negRow: Expression,
    values: Seq[Expression],
    strings: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GoldenMerge.Best] {

  require(values.nonEmpty && values.size == strings.size,
    s"GoldenMerge needs n >= 1 values and n string forms, got " +
      s"${values.size} and ${strings.size}")

  private val n = values.size

  override def children: Seq[Expression] = ts +: negRow +: (values ++ strings)

  override def dataType: DataType = StructType(values.zipWithIndex.map {
    case (v, i) => StructField(s"c$i", v.dataType, nullable = true)
  })
  override def nullable: Boolean = false
  override def prettyName: String = "golden_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    if (ts.dataType != TimestampType)
      TypeCheckResult.TypeCheckFailure(
        s"golden_merge needs a timestamp ts, got ${ts.dataType.simpleString}")
    else if (!RowOrdering.isOrderable(negRow.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"golden_merge needs an orderable row key, got ${negRow.dataType.simpleString}")
    else if (!strings.forall(_.dataType.isInstanceOf[StringType]))
      TypeCheckResult.TypeCheckFailure("golden_merge string forms must be strings")
    else TypeCheckResult.TypeCheckSuccess

  // per-task views of the children: the update loop indexes by column
  @transient private lazy val valueArr = values.toArray
  @transient private lazy val stringArr = strings.toArray
  @transient private lazy val isString =
    values.map(_.dataType.isInstanceOf[StringType]).toArray
  @transient private lazy val negOrdering =
    PhysicalDataType.ordering(negRow.dataType)

  /** Does candidate (len, ts, neg) beat column i's current best? */
  private def beats(len: Int, t: Long, neg: Any,
      b: GoldenMerge.Best, i: Int): Boolean =
    if (len != b.len(i)) len > b.len(i)
    else if (t != b.ts(i)) t > b.ts(i)
    else if (neg == null) false
    else b.negRow(i) == null || negOrdering.compare(neg, b.negRow(i)) > 0

  override def createAggregationBuffer(): GoldenMerge.Best = new GoldenMerge.Best(n)

  override def update(b: GoldenMerge.Best, input: InternalRow): GoldenMerge.Best = {
    var keyed = false
    var t = 0L
    var neg: Any = null
    var i = 0
    while (i < n) {
      val s = (if (isString(i)) valueArr(i) else stringArr(i)).eval(input)
        .asInstanceOf[UTF8String]
      if (s != null && GoldenMerge.present(s)) {
        if (!keyed) {
          t = ts.eval(input).asInstanceOf[Long]
          neg = negRow.eval(input)
          keyed = true
        }
        val len = s.numChars()
        if (beats(len, t, neg, b, i)) {
          // the input row's buffers are reused: own the bytes we keep
          b.value(i) =
            if (isString(i)) s.copy() else InternalRow.copyValue(valueArr(i).eval(input))
          b.len(i) = len
          b.ts(i) = t
          b.negRow(i) = neg
        }
      }
      i += 1
    }
    b
  }

  override def merge(a: GoldenMerge.Best, b: GoldenMerge.Best): GoldenMerge.Best = {
    var i = 0
    while (i < n) {
      if (b.len(i) >= 0 && beats(b.len(i), b.ts(i), b.negRow(i), a, i)) {
        a.value(i) = b.value(i)
        a.len(i) = b.len(i)
        a.ts(i) = b.ts(i)
        a.negRow(i) = b.negRow(i)
      }
      i += 1
    }
    a
  }

  override def eval(b: GoldenMerge.Best): Any = new GenericInternalRow(b.value.clone())

  // serialized buffer: (value, len, ts, negRow) per column, as one UnsafeRow
  @transient private lazy val bufferTypes: Array[DataType] =
    values.flatMap(v => Seq(v.dataType, IntegerType, LongType, negRow.dataType)).toArray
  @transient private lazy val bufferProjection = UnsafeProjection.create(bufferTypes)

  override def serialize(b: GoldenMerge.Best): Array[Byte] = {
    val row = new GenericInternalRow(4 * n)
    var i = 0
    while (i < n) {
      row.update(4 * i, b.value(i))
      row.setInt(4 * i + 1, b.len(i))
      row.setLong(4 * i + 2, b.ts(i))
      row.update(4 * i + 3, b.negRow(i))
      i += 1
    }
    // copy(): the projection reuses its row buffer across calls
    bufferProjection(row).copy().getBytes
  }

  override def deserialize(bytes: Array[Byte]): GoldenMerge.Best = {
    val row = new UnsafeRow(4 * n)
    row.pointTo(bytes, bytes.length)
    def get(k: Int): Any = if (row.isNullAt(k)) null else row.get(k, bufferTypes(k))
    val b = new GoldenMerge.Best(n)
    var i = 0
    while (i < n) {
      b.value(i) = get(4 * i)
      b.len(i) = row.getInt(4 * i + 1)
      b.ts(i) = row.getLong(4 * i + 2)
      b.negRow(i) = get(4 * i + 3)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GoldenMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GoldenMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): GoldenMerge =
    copy(ts = c(0), negRow = c(1), values = c.slice(2, 2 + n),
      strings = c.slice(2 + n, 2 + 2 * n))
}

object GoldenMerge {

  /** Per-group state: column i's current best value, the code-point length
    * of its string form (-1 while the column has no candidate), its ts
    * (micros) and its negRow. */
  final class Best(n: Int) {
    val value = new Array[Any](n)
    val len: Array[Int] = Array.fill(n)(-1)
    val ts = new Array[Long](n)
    val negRow = new Array[Any](n)
  }

  private val Sentinels: Set[UTF8String] =
    Cleaning.MissingSentinels.map(UTF8String.fromString).toSet

  /** [[Cleaning.isPresent]] on a string: Spark's `trim` strips spaces
    * (U+0020) only, so a tab- or NBSP-only cell is present. */
  private def present(s: UTF8String): Boolean = {
    val t = s.trim()
    t.numBytes() > 0 && !Sentinels.contains(t)
  }

  /** `golden_merge(ts, negRow, values…)`: each value's string form is its
    * `cast("string")`. */
  def column(ts: Column, negRow: Column, values: Seq[Column]): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(GoldenMerge(bridge.expression(ts), bridge.expression(negRow),
      values.map(bridge.expression), values.map(v => bridge.expression(v.cast("string"))))
      .toAggregateExpression())
  }
}
