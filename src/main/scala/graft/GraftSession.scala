package graft

import org.apache.spark.sql.SparkSession

/** The ONE session policy of every main in this engine (gate, bench and
  * dev tools alike), so a dev measurement runs under the configuration
  * the gate runs:
  *   - `local[N]`, N from `SPARK_GRAFT_CPUS` (default 4, the gate's value);
  *   - `spark.sql.shuffle.partitions` = N (right for row-keyed,
  *     doc_id-sized exchanges);
  *   - the AQE initial partition number volume-sized from the data
  *     directory ([[VolumeConf.initialPartitions]]), coalesced back toward
  *     a 64 MB advisory size, so lazy wide-key plans are split-safe at any
  *     decade and small decades keep their task counts;
  *   - cached plans may change output partitioning, UTC session time,
  *     nanosecond parquet timestamps read as longs (`Tables.events`
  *     normalizes them), no UI, WARN logging.
  */
object GraftSession {

  /** Session over the corpus at `sfDir`. */
  def apply(sfDir: String): SparkSession = build(VolumeConf.initialPartitions(sfDir, _))

  /** Session for a main that reads no corpus (fixture generation, the
    * flagship smoke's tiny sf0.001): the AQE initial number stays at N.
    */
  def apply(): SparkSession = build(identity)

  private def build(initialPartitions: Int => Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(cpus).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
