package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The bounded driver path shared by the iterative graph operators
  * ([[Dedup.dupClusters]], [[GraphOps.bfsHops]], label propagation and
  * modularity). A distributed iteration pays one or more Spark jobs per
  * round — pure dispatch latency when the graph is small, which it is
  * for every shared-frame consumer at bench scale. Up to one edge
  * budget, an operator collects its inputs once and solves on the
  * driver, returning a local relation, bit-identical to its distributed
  * path (spec-asserted per operator); over the budget, the distributed
  * path runs unchanged, so the 100 TB path never collects.
  *
  * The parts every such operator shares live here: the budget, the
  * bounded probe, the id order and the driver rows' local frame. */
object DriverPath {

  /** The one edge budget (0 disables every driver path): env-tunable
    * through `SPARK_GRAFT_CC_DRIVER_MAX_EDGES`, default 100 000 rows.
    * The collected rows are ids, so 100k rows is a few MB of driver
    * state, the same class as a broadcast build. An operator's
    * companion frame (its vertex or label set) shares the budget: a
    * corpus-sized vertex frame is never collected, even beside a tiny
    * edge list. */
  def maxEdges: Int =
    sys.env.getOrElse("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "100000").toInt

  /** An operator's `driverMaxEdges` argument resolved: negative → the
    * env budget ([[maxEdges]]), otherwise as given (0 never collects;
    * tests and Soak pass 0 to force the distributed path). */
  def budget(driverMaxEdges: Int): Int =
    if (driverMaxEdges >= 0) driverMaxEdges else maxEdges

  /** The bounded probe: `df`'s rows when it holds at most `budget`
    * rows, else None (and None without a job when `budget <= 0`). One
    * `limit(budget + 1).collect()`: partition-local short-circuit, so
    * an over-budget frame costs at most `budget + 1` rows of transfer. */
  def collectWithin(df: DataFrame, budget: Int): Option[Array[Row]] =
    if (budget <= 0) None
    else Some(df.limit(budget + 1).collect()).filter(_.length <= budget)

  /** Id types the driver solvers accept: their equality and order on
    * the JVM match Spark's. Floating ids (NaN, −0.0 normalization) and
    * nested types take the distributed path. */
  def supported(t: DataType): Boolean = t match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Spark's sort order on a [[supported]] id type: strings compare by
    * UTF-8 bytes, as Spark's binary string ordering does — Java's
    * `String.compareTo` is UTF-16 code-unit order and diverges on
    * supplementary-plane characters. */
  val idOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (sa: String, sb: String) =>
        val ba = sa.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = sb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(ba.length, bb.length)
        while (i < n && ba(i) == bb(i)) i += 1
        if (i < n) (ba(i) & 0xff) - (bb(i) & 0xff)
        else Integer.compare(ba.length, bb.length)
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
  }

  /** `rows` as a local relation of `schema`, read as ONE partition:
    * the rows live in the plan, so a collect of the frame needs no job,
    * and since the rows are already bounded on the driver (by the
    * budget, or by the memory sink [[graft.streaming.Pipelines.runToMemory]]
    * drains), one partition costs no parallelism while letting an order
    * or a keyed aggregate over it plan no exchange (a bare local relation
    * reads as up to one partition per core of unknown partitioning, so a
    * global sort over it pays a sampling job and a shuffle). */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** Run `body` with the Spark job description `desc` (so a job
    * listener attributes its jobs to the operator phase), restoring
    * the caller's description afterwards. */
  def described[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }
}
