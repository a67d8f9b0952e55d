package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark configuration every benchmark process uses: all local
  * cores, one shuffle partition per core, default AQE, UTC. */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def create(app: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
