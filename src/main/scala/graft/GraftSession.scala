package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, Pipeline,
  * Explain, the test-scope tools) and the spec base build their session
  * here, so they all plan under the same conf.
  *
  * Env knobs, parsed once, each a positive integer:
  *  - `SPARK_GRAFT_CPUS`: `local[n]` core count (default 4);
  *  - `SPARK_GRAFT_SHUFFLE_PARTS`: shuffle partitions (default: the core
  *    count). Pinning it independently of the cores keeps a core-scaling
  *    sweep from also changing the partition count (BASELINE.md
  *    "Core-scaling protocol");
  *  - `SPARK_GRAFT_MAXPART`: `spark.sql.files.maxPartitionBytes`
  *    (default 128 MiB, Spark's own). The stress sweep sets it to
  *    ScaleUp's 1 MB row groups so a single stress file splits the way a
  *    real many-split input would.
  */
object GraftSession {
  final case class Knobs(cores: Int, shufflePartitions: Int,
      maxPartitionBytes: Int)

  private val DefaultCores = 4
  val DefaultMaxPartitionBytes: Int = 128 * 1024 * 1024

  /** The given core count with the shuffle partitions tracking it. */
  def knobs(cores: Int): Knobs =
    Knobs(cores, cores, DefaultMaxPartitionBytes)

  /** Knobs from the environment; an invalid value fails fast, naming
    * the variable, instead of surfacing later as a Spark conf error. */
  def knobs(env: Map[String, String]): Knobs = {
    def positive(name: String): Option[Int] = env.get(name).map { raw =>
      raw.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"[graft] invalid $name='$raw', expected a positive integer"))
    }
    val cores = positive("SPARK_GRAFT_CPUS").getOrElse(DefaultCores)
    Knobs(cores,
      positive("SPARK_GRAFT_SHUFFLE_PARTS").getOrElse(cores),
      positive("SPARK_GRAFT_MAXPART").getOrElse(DefaultMaxPartitionBytes))
  }

  /** Every conf key the factory pins, in builder order. */
  def conf(k: Knobs): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${k.cores}]",
    "spark.sql.shuffle.partitions" -> k.shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // older testdata stores events.ts as TIMESTAMP(NANOS); Tables
    // normalizes whichever encoding is on disk
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // standalone-subquery DPP (q351 and the partitioned tier rely on
    // runtime commit pruning without a reusable broadcast) - pinned
    // at builder time so planning never flips mid-session
    "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> k.maxPartitionBytes.toString)

  def getOrCreate(k: Knobs = knobs(sys.env)): SparkSession = {
    val spark = conf(k).foldLeft(SparkSession.builder()) {
      case (b, (key, value)) => b.config(key, value)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: run q1_agg once on the noop sink so JVM, codegen
    * and FS-cache start-up (~4 s) is not charged to the first timed
    * query. Best effort: a failure here only costs the warm-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(_) => () }
}
