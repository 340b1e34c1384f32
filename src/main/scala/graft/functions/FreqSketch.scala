package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary (Misra & Gries 1982; merge rule per
  * Agarwal et al., "Mergeable Summaries", PODS 2012) — the ONE-PASS,
  * bounded-state twin of exact top-k-by-count: state is at most `capacity`
  * (value, counter) pairs per group, so at 10^12 rows each map task ships a
  * k-counter SUMMARY into the merge instead of shuffling every distinct
  * value the way an exact `groupBy(value).count` must.
  *
  * Output: struct(items: array(struct(value, cnt)), err: long), items
  * sorted (cnt desc, value asc).
  *
  * The summary SELF-CERTIFIES its accuracy: `err` is the total decrement
  * offset accumulated by overflow evictions and merges, and every reported
  * counter obeys `true_count - err <= cnt <= true_count`. Any value with
  * true frequency > err is guaranteed present. In particular `err == 0`
  * certifies the counts are EXACT (always the case when a group's distinct
  * count never exceeds `capacity` — the oracle-checkable regime).
  *
  * Determinism contract: with `err == 0` the result is content-determined
  * at any parallelism. Once evictions occur, WHICH sub-threshold values
  * survive depends on partitioning/arrival order (inherent to MG — the
  * guarantee is about heavy hitters, not the tail); callers needing stable
  * output at any parallelism either size `capacity` above the distinct
  * count or treat the result as a candidate set and re-count exactly.
  *
  * Null inputs are skipped (profile rows count them). Input must be STRING
  * (callers cast — the uniform rendering [[graft.Profiler.topValues]] also
  * uses).
  */
case class FreqSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqSketch.State] with UnaryLike[Expression] {

  require(capacity > 0, "FreqSketch requires capacity > 0")

  override def dataType: DataType = StructType(Seq(
    StructField("items", ArrayType(StructType(Seq(
      StructField("value", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("err", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"FreqSketch needs a string child, got $other")
    }

  override def createAggregationBuffer(): FreqSketch.State = new FreqSketch.State()

  override def update(buf: FreqSketch.State, input: InternalRow): FreqSketch.State = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString, 1L, capacity)
    buf
  }

  override def merge(buf: FreqSketch.State, other: FreqSketch.State): FreqSketch.State = {
    other.counts.foreach { case (value, c) => buf.add(value, c, capacity) }
    buf.err += other.err
    buf
  }

  override def eval(buf: FreqSketch.State): Any = {
    val sorted = buf.counts.toArray.sortBy { case (v, c) => (-c, v) }
    val items = new GenericArrayData(sorted.map { case (v, c) =>
      InternalRow(UTF8String.fromString(v), c)
    }.asInstanceOf[Array[Any]])
    InternalRow(items, buf.err)
  }

  override def serialize(buf: FreqSketch.State): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.err)
    out.writeInt(buf.counts.size)
    // length-prefixed UTF-8 bytes, NOT writeUTF: modified-UTF-8 caps a
    // value at 65535 bytes and THROWS past it — and Profiler.topValuesApprox
    // sketches arbitrary stringified columns (a long document column would
    // crash the partial-buffer shuffle serialization)
    buf.counts.foreach { case (v, c) =>
      val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): FreqSketch.State = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new FreqSketch.State()
    s.err = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      s.counts.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketch =
    copy(child = newChild)
}

object FreqSketch {
  import org.apache.spark.sql.GraftShim

  /** String-keyed instance of the shared [[MgState]] algebra. */
  private[graft] type State = MgState[String]

  /** Column wrapper: struct(items: array(struct(value, cnt)), err). */
  def freq_sketch(value: Column, capacity: Int): Column =
    GraftShim.column(
      FreqSketch(GraftShim.expression(value), capacity).toAggregateExpression())
}

/** [[FreqSketch]] for TOKEN ARRAYS: folds every element of each row's
  * integral array into one Long-keyed Misra-Gries summary — the per-group
  * token-unigram histogram WITHOUT `explode` (at 10^12 rows × 512 tokens an
  * explode materializes 5×10^14 aggregation inputs; this update loop visits
  * the same tokens but ships only a `capacity`-counter summary per task).
  * Same self-certified `err` contract as [[FreqSketch]]: `err == 0` ⇒
  * counts EXACT (guaranteed when distinct tokens ≤ capacity — the
  * oracle-checkable regime; real vocabularies get underestimates bounded
  * by err, heavy hitters guaranteed present when true count > err).
  * Null arrays and null elements are skipped. */
case class TokenFreqSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TokenFreqSketch.State] with UnaryLike[Expression] {

  require(capacity > 0, "TokenFreqSketch requires capacity > 0")

  override def dataType: DataType = StructType(Seq(
    StructField("items", ArrayType(StructType(Seq(
      StructField("token", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("err", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(ByteType | ShortType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"TokenFreqSketch needs an integral-array child, got $other")
    }

  @transient private lazy val read = ElemReader(child.dataType)

  override def createAggregationBuffer(): TokenFreqSketch.State =
    new TokenFreqSketch.State()

  override def update(buf: TokenFreqSketch.State, input: InternalRow): TokenFreqSketch.State = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val r = read
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!r.isNull(arr, i)) buf.add(r.long(arr, i), 1L, capacity)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: TokenFreqSketch.State, other: TokenFreqSketch.State): TokenFreqSketch.State = {
    other.counts.foreach { case (t, c) => buf.add(t, c, capacity) }
    buf.err += other.err
    buf
  }

  override def eval(buf: TokenFreqSketch.State): Any = {
    val sorted = buf.counts.toArray.sortBy { case (t, c) => (-c, t) }
    val items = new GenericArrayData(sorted.map { case (t, c) =>
      InternalRow(t, c)
    }.asInstanceOf[Array[Any]])
    InternalRow(items, buf.err)
  }

  override def serialize(buf: TokenFreqSketch.State): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.err)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (t, c) => out.writeLong(t); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TokenFreqSketch.State = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new TokenFreqSketch.State()
    s.err = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) { s.counts.update(in.readLong(), in.readLong()); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TokenFreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TokenFreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TokenFreqSketch =
    copy(child = newChild)
}

object TokenFreqSketch {
  import org.apache.spark.sql.GraftShim

  /** Long-keyed instance of the shared [[MgState]] algebra. */
  private[graft] type State = MgState[Long]

  /** Column wrapper: struct(items: array(struct(token, cnt)), err). */
  def token_freq_sketch(tokens: Column, capacity: Int): Column =
    GraftShim.column(
      TokenFreqSketch(GraftShim.expression(tokens), capacity).toAggregateExpression())
}

/** Mutable Misra-Gries state shared by the string- and Long-keyed sketches:
  * bounded counter map + accumulated decrement offset. `add` folds in
  * `weight` occurrences of `key` (weight > 1 merges fold in whole counters
  * at once — the PODS-2012 mergeable form: sum, then subtract the
  * (capacity+1)-th largest counter from all and evict non-positives). ONE
  * copy of the algebra so an eviction/merge fix can never diverge between
  * the two aggregates. */
private[graft] final class MgState[K] {
  val counts = scala.collection.mutable.HashMap.empty[K, Long]
  var err = 0L

  def add(key: K, weight: Long, capacity: Int): Unit = {
    counts.updateWith(key) {
      case Some(c) => Some(c + weight)
      case None => Some(weight)
    }
    if (counts.size > capacity) {
      // subtract the (capacity+1)-th largest counter (here: with the map
      // one over capacity, the minimum counter) from every counter; at
      // least one entry zeroes out, restoring the bound. All surviving
      // counters stay underestimates within the enlarged err.
      val d = counts.valuesIterator.min
      err += d
      counts.filterInPlace((_, c) => c > d)
      counts.mapValuesInPlace((_, c) => c - d)
    }
  }
}
