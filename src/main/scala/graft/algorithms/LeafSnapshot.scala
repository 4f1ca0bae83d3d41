package graft.algorithms

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NoStackTrace

/** One instance's leaf rows, collected once and held column-wise on the
  * driver: the input of the in-process kernels ([[RiskLocKernel]],
  * [[AdtributorKernel]], [[SqueezeKernel]], [[AutoRootKernel]]).
  *
  * The kernels must print the same numbers as the Spark path, and a
  * double sum's last bits depend on its order. So the snapshot keeps the
  * input partition of every row (`part`, rows in collect order = partition
  * order) and the session's shuffle partition count, and
  * [[LeafSnapshot.GroupedSums]] replays the order Spark sums in: a
  * sequential partial per input partition, merged in partition order.
  */
final case class LeafSnapshot(
    attributes: Seq[String],
    /** values(a)(row): attribute `attributes(a)` of each row. */
    values: Array[Array[String]],
    measures: Map[String, Array[Double]],
    part: Array[Int],
    shufflePartitions: Int) {

  def size: Int = part.length
  def measure(m: String): Array[Double] = measures(m)
  def column(attr: String): Array[String] = values(attributes.indexOf(attr))

  /** codes(a)(row): attribute `attributes(a)` of each row as a dense
    * code, numbered in first-seen order. */
  lazy val codes: Array[Array[Int]] = values.map { vs =>
    val dict = collection.mutable.HashMap.empty[String, Int]
    vs.map(v => dict.getOrElseUpdate(v, dict.size))
  }

  /** radix(a): the number of distinct values of `attributes(a)`, the
    * base of attribute `a`'s digit when a cuboid's element is one Long. */
  lazy val radix: Array[Long] = codes.map(c => c.foldLeft(0)(math.max) + 1L)

  /** Raises [[LeafSnapshot.Unsupported]] unless `slots` times the
    * product of the radices of `cuboid` (attribute indices) fits in a
    * Long: the cuboid's element keys, times `slots`, then do too. */
  def requireLongKeys(cuboid: Seq[Int], slots: BigInt = 1): Unit =
    if (cuboid.map(a => BigInt(radix(a))).product * slots >= BigInt(Long.MaxValue))
      LeafSnapshot.unsupported("too many attribute-value combinations")

  /** The element of the cuboid `cuboid` (attribute indices) that each of
    * `rows` falls in, elements numbered in first-seen order, and each
    * element's key: its values in cuboid order. */
  def elements(cuboid: Seq[Int], rows: Array[Int]): (Array[Int], Array[Seq[String]]) = {
    val as = cuboid.toArray
    requireLongKeys(cuboid)
    val ids = new collection.mutable.LongMap[Int]()
    val keys = collection.mutable.ArrayBuffer.empty[Seq[String]]
    val elem = rows.map { i =>
      var key = 0L
      var x = 0
      while (x < as.length) { key = key * radix(as(x)) + codes(as(x))(i); x += 1 }
      ids.getOrElseUpdate(key, { keys += cuboid.map(a => values(a)(i)); keys.size - 1 })
    }
    (elem, keys.toArray)
  }
}

object LeafSnapshot {

  /** The kernel cannot reproduce the Spark path on this input; the caller
    * runs the Spark path instead. Raised before a kernel's trace is
    * flushed. */
  final class Unsupported(msg: String) extends RuntimeException(msg) with NoStackTrace

  def unsupported(msg: String): Nothing = throw new Unsupported(msg)

  /** The measure columns an algorithm reads. */
  def measureColumns(derived: Boolean, withRatios: Boolean): Seq[String] =
    if (!derived) Seq("real", "predict")
    else if (withRatios) Seq("real", "predict", "real_a", "predict_a", "real_b", "predict_b")
    else Seq("real_a", "predict_a", "real_b", "predict_b")

  /** Whether `df` has the column types the kernels read (string
    * attributes, double measures); anything else stays on the Spark path. */
  def kernelSchema(df: DataFrame, attributes: Seq[String], measures: Seq[String]): Boolean = {
    val types: Map[String, DataType] = df.schema.fields.map(f => f.name -> f.dataType).toMap
    attributes.forall(a => types.get(a).contains(StringType)) &&
      measures.forall(m => types.get(m).contains(DoubleType))
  }

  /** The bounded probe: at most `cap + 1` rows of `attributes ++
    * measures`, each with its input partition, in ONE collect. */
  def probe(df: DataFrame, attributes: Seq[String], measures: Seq[String],
      cap: Int): Array[Row] = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    df.select(((attributes ++ measures).map(col) :+ spark_partition_id()): _*)
      .limit(cap + 1).collect()
  }

  /** Rows from [[probe]] as a snapshot. Null cells and sessions whose
    * shuffle layout the kernels do not model are [[Unsupported]]. */
  def of(rows: Array[Row], attributes: Seq[String], measures: Seq[String],
      spark: org.apache.spark.sql.SparkSession): LeafSnapshot = {
    val conf = spark.conf
    // the kernels replay the single coalesced partition that adaptive
    // execution reads a small aggregate's shuffle into
    if (!conf.get("spark.sql.adaptive.enabled", "true").toBoolean ||
        !conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean)
      unsupported("shuffle reads are not coalesced")
    val shufflePartitions = conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .getOrElse(conf.get("spark.sql.shuffle.partitions")).toInt
    val nA = attributes.size
    val n = rows.length
    val values = Array.fill(nA)(new Array[String](n))
    val ms = Array.fill(measures.size)(new Array[Double](n))
    val part = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      var a = 0
      while (a < nA) {
        if (r.isNullAt(a)) unsupported(s"null ${attributes(a)}")
        values(a)(i) = r.getString(a); a += 1
      }
      var m = 0
      while (m < ms.length) {
        if (r.isNullAt(nA + m)) unsupported(s"null ${measures(m)}")
        ms(m)(i) = r.getDouble(nA + m); m += 1
      }
      part(i) = r.getInt(nA + measures.size)
      i += 1
    }
    LeafSnapshot(attributes, values, measures.zip(ms).toMap, part, shufflePartitions)
  }

  // ---- Spark expression semantics on plain doubles --------------------

  /** Spark's double ordering (`>`, `<`, ORDER BY): NaN above every
    * value, -0.0 == 0.0. */
  def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)

  /** [[graft.functions.Scores.numpyDiv]]. */
  def numpyDiv(num: Double, den: Double): Double =
    if (den == 0.0) {
      if (num == 0.0 || num.isNaN) Double.NaN
      else if (cmp(num, 0.0) > 0) Double.PositiveInfinity
      else Double.NegativeInfinity
    } else num / den

  /** Spark's `Divide`: NULL (None) for a zero divisor. */
  def divide(num: Double, den: Double): Option[Double] =
    if (den == 0.0) None else Some(num / den)

  /** UTF-8 byte order: how Spark sorts strings. */
  val utf8Order: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  /** Spark's double `sum`s (and `avg`'s sums), `width` per group, fed in
    * snapshot order: each input partition's partial is `0.0 + x1 + x2 ...`
    * and the partials are merged in partition order the same way. Only
    * non-null inputs are added; a sum with none is NULL. Read the sums
    * after the last `add`. */
  final class GroupedSums(width: Int) {
    private var total = new Array[Double](16 * width)
    private var partial = new Array[Double](16 * width)
    private var state = new Array[Byte](16 * width) // bit 0: total set, bit 1: partial set
    private var counts = new Array[Long](16 * width)
    private val touched = collection.mutable.ArrayBuilder.make[Int]
    private var curPart = -1

    private def ensure(slot: Int): Unit = if (slot >= state.length) {
      val n = math.max(slot + 1, state.length * 2)
      total = java.util.Arrays.copyOf(total, n)
      partial = java.util.Arrays.copyOf(partial, n)
      state = java.util.Arrays.copyOf(state, n)
      counts = java.util.Arrays.copyOf(counts, n)
    }

    def add(p: Int, group: Int, j: Int, x: Double): Unit = {
      if (p != curPart) { flush(); curPart = p }
      val slot = group * width + j
      ensure(slot)
      if ((state(slot) & 2) == 0) {
        partial(slot) = 0.0 + x
        state(slot) = (state(slot) | 2).toByte
        touched += slot
      } else partial(slot) += x
      counts(slot) += 1
    }

    private def flush(): Unit = {
      touched.result().foreach { slot =>
        total(slot) = (if ((state(slot) & 1) != 0) total(slot) else 0.0) + partial(slot)
        state(slot) = 1
      }
      touched.clear()
    }

    private def slotOf(group: Int, j: Int): Int = { flush(); group * width + j }
    private def isNull(group: Int, j: Int): Boolean = {
      val slot = slotOf(group, j); slot >= state.length || state(slot) == 0
    }
    def sum(group: Int, j: Int): Option[Double] =
      if (isNull(group, j)) None else Some(total(group * width + j))
    def sumOrZero(group: Int, j: Int): Double = sum(group, j).getOrElse(0.0)
    def count(group: Int, j: Int): Long = {
      val slot = slotOf(group, j); if (slot >= counts.length) 0L else counts(slot)
    }
    /** `avg`: NULL on no input. */
    def avg(group: Int, j: Int): Option[Double] = sum(group, j).map(_ / count(group, j).toDouble)
  }

  /** A global `sum` of `x(i)` over `rows` (ascending), `skip` inputs read
    * as NULL. */
  def globalSum(s: LeafSnapshot, rows: Array[Int], x: Int => Double,
      skip: Double => Boolean = _ => false): Option[Double] = {
    val acc = new GroupedSums(1)
    rows.foreach { i => val v = x(i); if (!skip(v)) acc.add(s.part(i), 0, 0, v) }
    acc.sum(0, 0)
  }

  /** The reducer Spark's hash exchange sends a grouping key to:
    * `pmod(murmur3(key, 42), n)`; a key is strings (nullable) then
    * optionally a long (the grouping-sets id). */
  final class Reducer(nStrings: Int, withLong: Boolean, n: Int) {
    private val refs =
      (0 until nStrings).map(i => BoundReference(i, StringType, nullable = true)) ++
        (if (withLong) Seq(BoundReference(nStrings, LongType, nullable = false)) else Nil)
    private val expr = HashPartitioning(refs, n).partitionIdExpression
    def apply(strings: Seq[String], long: Long = 0L): Int = {
      val cells: Array[Any] = strings.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any] ++
        (if (withLong) Array[Any](long) else Array.empty[Any])
      expr.eval(new GenericInternalRow(cells): InternalRow).asInstanceOf[Int]
    }
  }
}
