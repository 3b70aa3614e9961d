package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.config.EngineConfig
import graft.store.TableStore

/** Batch entry point — the working counterpart of the reference's
  * env-driven container run (SURVEY §3 E2; the reference's documented
  * `python -m autosinapi.etl_pipeline` path is a no-op module import, its
  * Makefile `python -c "run_etl(...)"` is the real one).
  *
  * Usage: runMain graft.pipeline.Main <stagingDir> <warehouseDir> <year> <month>
  * Config overrides come from AUTOSINAPI_* env vars (O5).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.pipeline.Main <stagingDir> <warehouseDir> <year> <month>")
    val Array(stagingDir, warehouseDir, y, m) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = new TableStore(spark, warehouseDir)
    val cfg = EngineConfig.load()
    val report = new PipelineETL(spark, store, cfg).run(stagingDir, y.toInt, m.toInt)
    println(RunReportJson.render(report))
    spark.stop()
    if (report.status == cfg("STATUS_FAILURE")) sys.exit(1)
  }
}
