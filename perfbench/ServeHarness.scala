package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.query.Queries
import graft.store.TableStore

/** Monthly load through the program's batch entry point, then one closed-loop
  * client of its query surface (`graft.query.Queries`), which has no serving
  * entry point of its own.
  *
  * Usage: ServeHarness <warehouseDir> <requests.tsv> <out.tsv> <seconds> <minPerKind>
  *                     <warmup> <setups> [<stagingDir> <year> <month>]
  *
  * With the last three arguments, `graft.pipeline.Main` first loads that month
  * into the warehouse, in this JVM, exactly as its own `main` does (its session
  * is stopped when it returns); `loaded<TAB>epochMillis` is written when it
  * returns.
  *
  * Each request line is `op<TAB>args...`:
  *   lookup  codigo uf yyyy-mm-dd regime   -> Queries.custoComposicao
  *   history codigo tipo                   -> Queries.historico
  *   rollup  codigo uf yyyy-mm-dd regime   -> Queries.custoRolledUp
  *
  * Serving set-up is a session built like `graft.pipeline.Main`'s plus one
  * untimed run of the last `warmup` requests (file listing, first codegen). It
  * is done `setups` times, stopping the session in between, and each one is
  * written as `setup<TAB>nanos`. Then requests run in order, one at a time,
  * until `seconds` have passed and every kind has run at least `minPerKind`
  * times (but never past 3 x `seconds`). Every timed call is written as
  * `idx<TAB>op<TAB>nanos<TAB>answer`; the answer is checked by the caller. Jobs
  * of each timed call are grouped as `query.<op>` (warm-up calls as
  * `warmup.<op>`) so that a Spark event log can attribute them.
  */
object ServeHarness {
  def main(args: Array[String]): Unit = {
    require(args.length == 7 || args.length == 10,
      "usage: ServeHarness <warehouseDir> <requests.tsv> <out.tsv> <seconds> <minPerKind> " +
        "<warmup> <setups> [<stagingDir> <year> <month>]")
    val Array(warehouse, requestsPath, outPath, seconds, minPerKind, warmup, setups) = args.take(7)
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(outPath)))
    if (args.length == 10) {
      graft.pipeline.Main.main(Array(args(7), warehouse, args(8), args(9)))
      out.println(s"loaded\t${System.currentTimeMillis()}")
      out.flush()
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val requests = Files.readAllLines(Paths.get(requestsPath)).asScala.toVector
      .filter(_.nonEmpty).map(_.split('\t'))

    def answer(spark: SparkSession, store: TableStore, r: Array[String], group: String): String = {
      spark.sparkContext.setJobGroup(s"$group.${r(0)}", r.mkString(" "))
      try r(0) match {
        case "lookup" =>
          Queries.custoComposicao(store, r(1).toInt, r(2), java.sql.Date.valueOf(r(3)), r(4))
            .collect().map(row => s"${row.getAs[java.math.BigDecimal]("custo_total")
              .toPlainString}|${row.getAs[String]("status")}").mkString(",")
        case "history" =>
          Queries.historico(store, r(1).toInt, r(2)).collect().length.toString
        case "rollup" =>
          Queries.custoRolledUp(store, r(1).toInt, r(2), java.sql.Date.valueOf(r(3)), r(4))
            .collect().map(row => Option(row.getDecimal(0)).map(_.toPlainString)
              .getOrElse("null")).mkString(",")
        case op => throw new IllegalArgumentException(s"unknown request kind: $op")
      } finally spark.sparkContext.clearJobGroup()
    }

    def setup(): (SparkSession, TableStore) = {
      val t0 = System.nanoTime()
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val store = new TableStore(spark, warehouse)
      requests.takeRight(warmup.toInt).foreach { r =>
        try answer(spark, store, r, "warmup") catch { case _: Exception => () }
      }
      out.println(s"setup\t${System.nanoTime() - t0}")
      (spark, store)
    }

    (1 until setups.toInt).foreach(_ => setup()._1.stop())
    val (spark, store) = setup()
    try {
      val start = System.nanoTime()
      val (deadline, cap) = (start + (seconds.toDouble * 1e9).toLong,
        start + (3 * seconds.toDouble * 1e9).toLong)
      val done = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val kinds = requests.map(_(0)).distinct
      var i = 0
      while (i < requests.length && System.nanoTime() < cap &&
        (System.nanoTime() < deadline || kinds.exists(done(_) < minPerKind.toInt))) {
        val r = requests(i)
        done(r(0)) += 1
        val t0 = System.nanoTime()
        val a = try answer(spark, store, r, "query") catch {
          case e: Exception => "ERR " + String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)
        }
        out.println(s"$i\t${r(0)}\t${System.nanoTime() - t0}\t$a")
        i += 1
      }
    } finally out.close()
    spark.stop()
  }
}
