package perfbench

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** The one session builder and the one force action every workload
  * uses. */
object Session {

  /** A `local[cores]` session configured like the repository's bench
    * main: shuffle partitions = cores, the Graft extensions, UTC, no
    * UI. Scratch space (shuffle files, warehouse) stays under
    * `workDir`. */
  def build(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** What forcing an operation's output produced. `kind` is
    * "checksum" when the order-independent `bit_xor(xxhash64(*))`
    * checksum was computed, "count" when the output has a column type
    * the hash rejects and only the row count is available. */
  final case class Output(rows: Long, checksum: Option[Long], kind: String) {
    def show: String = s"$rows\t${checksum.fold("null")(_.toString)}\t$kind"
  }

  /** The forcing action, split so the caller can time planning and
    * execution apart: `prepare` analyses and plans the aggregate (row
    * count + checksum in one job), the returned thunk executes it.
    * Only an analysis error from the hash falls back to the count;
    * any other exception propagates and fails the operation. */
  def prepare(df: DataFrame): () => Output = {
    val hashed =
      try Some(df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))))
      catch { case _: AnalysisException => None }
    hashed match {
      case Some(agg) =>
        agg.queryExecution.executedPlan
        () => {
          val r = agg.collect()(0)
          Output(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), "checksum")
        }
      case None =>
        val agg = df.agg(count(lit(1)))
        agg.queryExecution.executedPlan
        () => Output(agg.collect()(0).getLong(0), None, "count")
    }
  }

  def force(df: DataFrame): Output = prepare(df)()
}
