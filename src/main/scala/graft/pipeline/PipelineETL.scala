package graft.pipeline

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.ingest.{Processors, Staging}
import graft.model.Schemas
import graft.ops.{Lifecycle, Relational}

/** Run contract of the reference (`etl_pipeline.py:506-511`,
  * statuses `config.py:40-42`; 8-char run id `__init__.py:64`). */
final case class RunReport(
    runId: String,
    status: String,
    message: String,
    tablesUpdated: Seq[String],
    recordsInserted: Map[String, Long],
    sheetErrors: Map[String, String] = Map.empty,
    phaseSeconds: Map[String, Double] = Map.empty)

/** Phase-0..3 orchestrator (`etl_pipeline.py:426-504`, SURVEY §2.11 O1-O3)
  * over a staging directory of `;`-CSV sheets:
  *
  *   Manutencoes*.csv          maintenance log (filename keyword routing, P9)
  *   ISD/ICD/ISE*.csv          insumo price sheets  (SHEET_MAP routing, S7)
  *   CSD/CCD/CSE*.csv          composition cost sheets (two-row header)
  *   Analitico*.csv            composition structure sheet
  *
  * Each table is written at most once per run, the maintenance log once per
  * file: the log (append-ignore), the edges (truncate-reload) and facts
  * (append-ignore), then each catalog in one overwrite holding the upsert,
  * the placeholder repair (J1-J3) and the status derivation (W1/J4).
  * Per-sheet failures are isolated (O2, processor.py:496-500): logged
  * into the report, the rest of the run proceeds.
  */
class PipelineETL(spark: SparkSession, store: graft.store.TableStore, cfg: EngineConfig) {

  private val sheetMap: Map[String, (String, String)] =
    EngineConfig.subMap(cfg, "SHEET_MAP").map { case (k, v) =>
      val Array(table, regime) = v.split(':'); k -> (table, regime)
    }

  def run(stagingDir: String, year: Int, month: Int): RunReport = {
    // 8-char run id tagged onto every log line (O4, `__init__.py:64`;
    // log4j MDC is the JVM counterpart of the reference's run-scoped
    // logging handler, `etl_pipeline.py:75-113`).
    val runId = java.util.UUID.randomUUID().toString.take(8)
    org.apache.logging.log4j.ThreadContext.put("graftRunId", runId)
    try runInternal(runId, stagingDir, year, month)
    finally org.apache.logging.log4j.ThreadContext.remove("graftRunId")
  }

  private def runInternal(runId: String, stagingDir: String, year: Int, month: Int): RunReport = {
    val dataRef = Date.valueOf(f"$year-$month%02d-01")
    val errors = scala.collection.mutable.Map.empty[String, String]
    val inserted = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    def isolated[A](sheet: String)(body: => A): Option[A] =
      try Some(body)
      catch { case e: Exception => errors(sheet) = e.getMessage; None }

    // measure, don't guess: wall-clock per phase in the run report
    val phaseSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phaseSeconds(name) = (System.nanoTime() - t0) / 1e9
    }

    // S6 pre-conversion (pre_processor.py:51-84): workbooks dropped into
    // the staging dir — OOXML `.xlsx` or legacy BIFF8 `.xls`, matching
    // the reference whitelist (`config.py:24`) — are expanded to one
    // `;`-CSV per sheet (accent-stripped names) so the filename routing
    // below treats workbook tabs and pre-staged CSVs identically. A CSV
    // that already exists wins — conversion never clobbers explicit
    // input. Failures are isolated PER SHEET (O2): a corrupt sheet part
    // must not lose the workbook's other, readable sheets; an unreadable
    // workbook (can't even list sheets) is isolated per file.
    phase("preconvert") {
      Option(new java.io.File(stagingDir).listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val n = f.getName.toLowerCase
          f.isFile && (n.endsWith(".xlsx") || n.endsWith(".xls"))
        }
        .sortBy(_.getName)
        .foreach { f =>
          isolated(f.getName) {
            // one open workbook per file (shared-string table parsed
            // once), dispatched on the container magic
            val (names, convert, close):
                (Seq[String], (String, java.nio.file.Path) => Unit, () => Unit) =
              if (graft.ingest.XlsxToCsv.isLegacyXls(f.toPath)) {
                val wb = new graft.ingest.BiffToCsv.Workbook(f.toPath)
                (wb.sheetNames,
                  (s, p) => { wb.convertSheet(s, p, cfg("CSV_SEPARATOR").head); () },
                  () => wb.close())
              } else {
                val wb = new graft.ingest.XlsxToCsv.Workbook(f.toPath)
                (wb.sheetNames,
                  (s, p) => { wb.convertSheet(s, p, cfg("CSV_SEPARATOR").head); () },
                  () => wb.close())
              }
            try names.foreach { sheet =>
              isolated(s"${f.getName}!$sheet") {
                val out = new java.io.File(stagingDir,
                  graft.ingest.XlsxToCsv.asciiName(sheet) + ".csv")
                if (!out.exists()) convert(sheet, out.toPath)
              }
            } finally close()
          }
        }
    }

    val files = Option(new java.io.File(stagingDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.toLowerCase.endsWith(".csv"))
      .sortBy(_.getName)

    def route(pred: String => Boolean): Seq[java.io.File] =
      files.filter(f => pred(f.getName)).toSeq

    // Phase 2a: maintenance first (etl_pipeline.py:450-458), one
    // append-ignore per file. Statuses are derived from the whole log
    // once, when the catalogs are written.
    phase("maintenance") {
      route(_.contains("Manuten")).foreach { f =>
        isolated(f.getName) {
          val staged = Staging.stage(spark, f.getPath,
            cfg.list("MANUTENCOES_HEADER_KEYWORDS"), cfg)
          val events = Processors.processManutencoes(staged, cfg)
          val n = store.appendIgnore("manutencoes_historico", events)
          inserted("manutencoes_historico") = inserted.getOrElse("manutencoes_historico", 0L) + n
        }
      }
    }

    // Phase 2b/3: reference workbook — prices, structure, costs.
    val catalogFragments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val priceFragments = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val sheetPriority = cfg.list("SHEET_PRIORITY")
    def byPriority(entries: Seq[(String, (String, String))]) =
      entries.sortBy { case (k, _) =>
        val i = sheetPriority.indexOf(k); if (i < 0) Int.MaxValue else i
      }
    val (analitico, custoFragments) = phase("transform") {
      for {
        (key, (table, regime)) <- byPriority(sheetMap.toSeq) if table == "precos"
        f <- route(_.startsWith(key))
      } isolated(f.getName) {
        val staged = Staging.stage(spark, f.getPath, cfg.list("PRECOS_HEADER_KEYWORDS"), cfg)
        val (cat, prices) = Processors.processPrecosSheet(staged, regime, dataRef, cfg)
        catalogFragments += cat
        priceFragments += prices
      }

      val analitico = route(n => n.contains("Analitico") && !n.contains("Custo")).headOption
        .flatMap { f =>
          isolated(f.getName) {
            val staged = Staging.stage(spark, f.getPath,
              cfg.list("COMPOSICAO_HEADER_KEYWORDS"), cfg)
            Processors.processAnalitico(staged, cfg)
          }
        }

      val custoFragments = for {
        (key, (table, regime)) <- byPriority(sheetMap.toSeq) if table == "custos"
        f <- route(_.startsWith(key))
        out <- isolated(f.getName) {
          val staged = Staging.stageTwoRowHeader(spark, f.getPath,
            cfg.list("CUSTOS_HEADER_KEYWORDS"), cfg)
          Processors.processCustosSheet(staged, regime, dataRef, cfg)
        }
      } yield out
      (analitico, custoFragments)
    }

    // This month's rows per catalog, ATIVO until the status derivation says
    // otherwise; A4: price-sheet fragments consolidate first-sheet-wins.
    def asCatalog(table: String, rows: DataFrame): DataFrame = rows
      .withColumn(if (table == "insumos") "classificacao" else "grupo", lit(null).cast("string"))
      .withColumn("status", lit(Schemas.Status.Ativo))
    val incoming = Map(
      "insumos" -> Option.when(catalogFragments.nonEmpty)(Relational.dedupKeepFirst(
        catalogFragments.zipWithIndex.map { case (df, i) => df.withColumn("__prio", lit(i)) }
          .reduce(_ unionByName _), Seq("codigo"), Seq(col("__prio").asc)).drop("__prio")),
      "composicoes" -> analitico.map(_._1))
      .collect { case (t, Some(rows)) => t -> asCatalog(t, rows) }

    // Phase 3: edges and facts. The catalogs' upsert counts come first, in
    // the reference's order (`etl_pipeline.py:340-380`); their write follows.
    phase("load") {
      // exact upsert rowcount (database.py:270-280): one per distinct PK
      for (t <- Seq("insumos", "composicoes"); rows <- incoming.get(t))
        inserted(t) = rows.dropDuplicates("codigo").count()
      analitico.foreach { case (_, _, insumoEdges, subcompEdges) =>
        // S12: edges are truncate-reloaded each month (etl_pipeline.py:359-360).
        store.overwrite("composicao_insumos", insumoEdges)
        inserted("composicao_insumos") = insumoEdges.count()
        store.overwrite("composicao_subcomposicoes", subcompEdges)
        inserted("composicao_subcomposicoes") = subcompEdges.count()
      }
      if (priceFragments.nonEmpty)
        inserted("precos_insumos_mensal") =
          store.appendIgnore("precos_insumos_mensal", priceFragments.reduce(_ unionByName _))
      if (custoFragments.nonEmpty)
        inserted("custos_composicoes_mensal") =
          store.appendIgnore("custos_composicoes_mensal", custoFragments.reduce(_ unionByName _))
    }

    // One write per catalog: the upsert, template rows for codes the edges
    // need but the merged catalog lacks (J1-J3, etl_pipeline.py:287-338) and
    // every status derived from the log (W1/J4). The upsert resets the status
    // of each row it takes and the derivation is idempotent, so this one
    // pass ends where the reference's per-load syncs do.
    phase("repair_and_sync") {
      if (inserted.contains("manutencoes_historico") || incoming.nonEmpty) {
        for ((table, tipo, template) <- Seq(
            ("insumos", Schemas.ItemType.Insumo, "PLACEHOLDER_INSUMO_DESC"),
            ("composicoes", Schemas.ItemType.Composicao, "PLACEHOLDER_COMPOSICAO_DESC"))) {
          val merged = incoming.get(table)
            .fold(store.read(table))(Relational.upsert(store.read(table), _, Seq("codigo")))
            .withColumn("__placeholder", lit(false))
          val repaired = analitico.fold(merged) { case (_, childDetails, insumoEdges, subcompEdges) =>
            val needed =
              if (table == "insumos") insumoEdges.select(col("insumo_filho_codigo").as("c"))
              else Seq(subcompEdges.select(col("composicao_filho_codigo").as("c")),
                insumoEdges.select(col("composicao_pai_codigo").as("c")),
                subcompEdges.select(col("composicao_pai_codigo").as("c"))).reduce(_ unionByName _)
            merged.unionByName(asCatalog(table, Lifecycle.placeholderRows(
                Lifecycle.missingCodes(needed, "c", merged),
                childDetails.filter(col("tipo") === tipo).select("codigo", "descricao", "unidade"),
                cfg(template), cfg("PLACEHOLDER_UNIT")))
              .withColumn("__placeholder", lit(true)))
          }
          val rows = Lifecycle.syncStatus(repaired, store.read("manutencoes_historico"), tipo,
              cfg("DEACTIVATION_KEYWORD"))
            .cache() // one pass counts the placeholders and feeds the write
          val n = rows.filter(col("__placeholder")).count()
          if (n > 0) inserted(table) = inserted.getOrElse(table, 0L) + n
          store.overwrite(table, rows.drop("__placeholder"))
          rows.unpersist()
        }
      }
    }

    // S13: every registered table exists after a run; only the ones this
    // run left absent are written (empty), so a full load writes none.
    phase("bootstrap") {
      Schemas.all.keys.filterNot(store.exists).foreach(t => store.overwrite(t, store.read(t)))
    }

    val anyData = inserted.values.sum > 0
    val status =
      if (errors.nonEmpty && inserted.isEmpty) cfg("STATUS_FAILURE")
      else if (!anyData) cfg("STATUS_NO_DATA")
      else cfg("STATUS_SUCCESS")
    RunReport(runId, status,
      if (errors.isEmpty) s"processed ${files.length} sheet file(s) for $dataRef"
      else s"completed with ${errors.size} sheet error(s): ${errors.keys.mkString(", ")}",
      inserted.keys.toSeq, inserted.toMap, errors.toMap, phaseSeconds.toMap)
  }
}
