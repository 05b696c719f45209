package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the test suites run on. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM can see. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet stores TIMESTAMP(NANOS), which Spark 4
      // otherwise refuses to read (PARQUET_TYPE_ILLEGAL); read as long nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // A long battery accumulates driver-side garbage (codegen classes,
      // broadcast blocks, shuffle registrations) that the ContextCleaner
      // only reclaims when the driver GCs; the default 30-minute periodic
      // GC lets that debt land as mid-query pauses late in the run (the
      // r10 t23 2.5→11.3 s in-battery inflation).
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
