package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.engine.{Compaction, Manifest, Publication}
import graft.queries.{AnalyticQueries, QueryDef, Relational, SqlSurfaceQueries}

/** `bi_reads`: the dashboard user's view. A warehouse is loaded with
  * `Pipeline.backfill` and compacted under the daily-load policy; then a
  * seeded, fixed sequence of small reads runs, each ending in `collect()`:
  * a one-date mart slice, a 7-day top-20 of artists by royalties, a
  * fact ⋈ dim_song ⋈ dim_country trend for one country, the mart through
  * SQL on `graft.catalog.GraftCatalog`, a time-travel read of an older
  * publication, and a saved analytic query from the query registry over
  * seeded TPC-H-style tables. Read-only: publication resolve,
  * `Manifest.readAsOf`, catalog file skipping, Catalyst planning of tiny
  * queries and the registry's operators.
  */
object BiReads extends AdaptiveSparkPlanHelper {
  import Main._

  val Catalog = "bi"
  val Templates = Seq("mart_slice", "top_artists_7d", "country_trend",
    "catalog_sql", "time_travel", "saved_query")
  /** Registry queries a dashboard keeps, with the module each comes from:
    * an aggregate, the grouping-sets rollup ROADMAP item 1 asks about, and
    * a SQL-surface rank TVF. Each has a DuckDB oracle.
    */
  val SavedQueries: Seq[(String, QueryDef)] = Seq(
    "Relational" -> Relational.all, "AnalyticQueries" -> AnalyticQueries.all,
    "SqlSurfaceQueries" -> SqlSurfaceQueries.all).zip(Seq(
    "q1_pricing_summary", "q_grouping_sets", "q_sql_global_rank")).map {
    case ((module, qs), name) => module -> qs.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"query $name is not in $module"))
  }
  /** Reads per run: a fixed amount of work set by `--seconds` (a read
    * costs about a quarter of a second), so every run makes the same reads.
    */
  def reads(seconds: Double): Int = math.max(40, math.round(4 * seconds).toInt)

  /** One read: its template and parameters, fixed by the seed. */
  final case class Read(template: String, date: String, country: String,
      version: Long, saved: Int) {
    /** template|date|country|version|saved, with only the parameters the
      * template reads, so equal reads share a key.
      */
    def key: String = template match {
      case "country_trend" => s"$template||$country||"
      case "time_travel" => s"$template|$date||$version|"
      case "saved_query" => s"$template||||$saved"
      case _ => s"$template|$date|||"
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val landing = s"${ctx.input}/landing"
    val wh = s"${ctx.work}/wh"
    val setupStart = now()
    Pipeline.backfill(spark, landing, wh, checked = true)
    Seq(Pipeline.odsPath(wh) -> "source_date", Pipeline.factPath(wh) -> "date")
      .foreach { case (p, part) =>
        Compaction.autoCompact(spark, p, partitionCol = Some(part),
          policy = DailyLoad.Policy)
      }
    // what the next day's publication would pin: reads see the compacted layout
    Publication.publish(spark, wh, DailyLoad.tables(wh).map(_.stripPrefix(s"$wh/")))
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", ctx.work)
    val dates = DailyLoad.dates(landing)
    val countryNames = Manifest.read(spark, Pipeline.dimCountryPath(wh))
      .select("country_name").collect().map(_.getString(0)).sorted.toSeq
    val pubs = Publication.versions(spark, wh)
    val rng = new scala.util.Random(ctx.seed)
    // saved queries take turns, so every module is read in every run
    val sequence = Iterator.from(0).map { i =>
      Read(Templates(i % Templates.size), dates(rng.nextInt(dates.size)),
        countryNames(rng.nextInt(countryNames.size)),
        pubs(rng.nextInt(pubs.size)), i / Templates.size % SavedQueries.size)
    }
    // warm-up: every template and saved query once, untimed and untraced
    val untraced = new Tracer(spark, enabled = false)
    (Templates.map(t => Read(t, dates.head, countryNames.head, pubs.head, 0)) ++
      SavedQueries.indices.map(Read("saved_query", dates.head,
        countryNames.head, pubs.head, _))).foreach(read(ctx, wh, _, untraced))
    val setupWall = secondsSince(setupStart)

    val tr = ctx.tracer
    val ops = ArrayBuffer.empty[(Read, Double, Option[String])]
    val first = scala.collection.mutable.LinkedHashMap.empty[String, Result]
    var mismatched = 0
    tr.collecting = true
    val t0 = now()
    val n = reads(ctx.seconds)
    while (ops.size < n) {
      val r = sequence.next()
      tr.op = ops.size
      val (res, s) = attempt(tr.span("read")(read(ctx, wh, r, tr)))
      ops += ((r, s, res.left.toOption))
      // the same read must return the same rows every time
      res.foreach { got =>
        first.get(r.key) match {
          case Some(prev) if prev.rows.toSet != got.rows.toSet => mismatched += 1
          case Some(_) =>
          case None => first(r.key) = got
        }
      }
    }
    val wall = secondsSince(t0)
    tr.drain()
    tr.collecting = false
    val heap = liveHeapMb()
    // for the DuckDB check: every read's rows and the files behind them
    val tables = Seq(Pipeline.martRoyaltiesPath(wh), Pipeline.martAppearancesPath(wh),
      Pipeline.factPath(wh), Pipeline.dimSongPath(wh), Pipeline.dimCountryPath(wh))
    val files = tables.map { p =>
      p.stripPrefix(s"$wh/") -> Manifest.versions(spark, p).map { v =>
        v.toString -> Manifest.filesAsOf(spark, p, v).map(f => s"$p/$f")
      }.toMap
    }.toMap
    val pins = pubs.map(v => v.toString -> Publication.resolveAsOf(spark, wh, v)).toMap
    val base = Map(
      "workload" -> "bi_reads",
      "setup_wall_s" -> setupWall,
      "ops" -> ops.map { case (r, s, err) => opEntry(r.template, s, err) },
      "timed_wall_s" -> wall, "live_heap_mb" -> heap,
      "attempted" -> ops.size, "self_mismatched" -> mismatched,
      "reads" -> first.map { case (k, res) =>
        Map("key" -> k, "columns" -> res.columns,
          "rows" -> res.rows.map(_.map(jsonValue)))
      }.toSeq,
      "saved_queries" -> SavedQueries.map(_._2.oracle.get.stripMargin.trim),
      "files" -> files, "pins" -> pins,
      "current_pins" -> Publication.resolve(spark, wh).get)
    if (!tr.enabled) base
    else base ++ traced(ctx, wh, ops.map(_._1).toSeq, wall)
  }

  final case class Result(columns: Seq[String], rows: Seq[Seq[Any]])

  /** The dashboard read behind each template. */
  def read(ctx: Ctx, wh: String, r: Read, tr: Tracer): Result = {
    val spark = ctx.spark
    val d = lit(r.date).cast("date")
    val df: DataFrame = r.template match {
      case "mart_slice" =>
        val snap = tr.span("engine.publication.resolve")(Publication.snapshot(spark, wh))
        snap.readTable(spark, "dm_expected_artist_royalties_by_date")
          .filter(col("date") === d).select("artist_name", "royalties")
      case "top_artists_7d" =>
        val snap = tr.span("engine.publication.resolve")(Publication.snapshot(spark, wh))
        snap.readTable(spark, "dm_expected_artist_royalties_by_date")
          .filter(col("date") > date_sub(d, 7) && col("date") <= d)
          .groupBy("artist_name").agg(sum("royalties").as("royalties"))
          .orderBy(col("royalties").desc, col("artist_name")).limit(20)
      case "country_trend" =>
        val snap = tr.span("engine.publication.resolve")(Publication.snapshot(spark, wh))
        snap.readTable(spark, "dds_fact_daily_top_100")
          .join(snap.readTable(spark, "dds_dim_song"), "song_id")
          .join(snap.readTable(spark, "dds_dim_country"), "country_id")
          .filter(col("country_name") === r.country)
          .groupBy("date").agg(count(lit(1)).as("songs"),
            sum("listeners_count").as("listeners"),
            sum("duration_sec").as("duration"))
      case "catalog_sql" =>
        spark.sql(s"""SELECT artist_name, royalties
          FROM $Catalog.wh.dm_expected_artist_royalties_by_date
          WHERE date = DATE '${r.date}'
          ORDER BY royalties DESC, artist_name LIMIT 20""")
      case "time_travel" =>
        val snap = tr.span("engine.publication.resolve")(
          Publication.snapshotAsOf(spark, wh, r.version))
        snap.readTable(spark, "dm_artist_appearances_by_date")
          .filter(col("date") === d).select("artist_name", "cnt_appearance")
      case "saved_query" =>
        val (module, q) = SavedQueries(r.saved)
        val built = tr.span("query.build") {
          val b = q.run(spark, s"${ctx.input}/tables")
          tr.phasesOf(b.queryExecution)
          b
        }
        tr.count(s"module.$module", 1)
        built
    }
    val exec = if (r.template == "saved_query") "query.exec" else "read.exec"
    val rows = tr.span(exec)(df.collect().toSeq)
    if (tr.enabled)
      scanned(df.queryExecution.executedPlan).foreach(tr.count("files_scanned", _))
    Result(df.columns.toSeq, rows.map(_.toSeq))
  }

  /** Data files each table scan of an executed plan reads, after
    * partition pruning and the catalog's stats skipping.
    */
  private def scanned(plan: SparkPlan): Seq[Double] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles.toDouble
      case b: BatchScanExec if b.scan.isInstanceOf[FileScan] =>
        val fs = b.scan.asInstanceOf[FileScan]
        fs.fileIndex.listFiles(fs.partitionFilters, fs.dataFilters)
          .map(_.files.size).sum.toDouble
    }

  def traced(ctx: Ctx, wh: String, reads: Seq[Read], wall: Double): Map[String, Any] = {
    val tr = ctx.tracer
    val n = reads.size.toDouble
    // the same sequence untraced, for the tracing overhead
    val off = new Tracer(ctx.spark, enabled = false)
    val (_, untracedS) = timed(reads.foreach(r => attempt(read(ctx, wh, r, off))))
    val byRead = tr.named("read")
    val tracedS = byRead.map(_.seconds).sum
    def mean(spans: Seq[Span]) =
      if (spans.isEmpty) 0.0 else spans.map(_.seconds).sum / spans.size
    def ofTemplate(t: String) = byRead.filter(s => reads(s.op).template == t)
    val catalogReads = ofTemplate("catalog_sql")
    val catScanned = catalogReads.map(_.counts.getOrElse("files_scanned", 0.0)).sum
    val live = catalogLive(ctx, wh) * catalogReads.size
    val perModule = SavedQueries.map(_._1).distinct.map { m =>
      s"queries.$m.s" -> mean(byRead.filter(_.counts.contains(s"module.$m")))
    }
    val c = tr.total
    Map("layers" -> (Map(
      "engine.publication.resolve_s" -> mean(tr.named("engine.publication.resolve")),
      "catalyst.analysis_s" -> c.analysisMs / 1e3 / n,
      "catalyst.optimization_s" -> c.optimizationMs / 1e3 / n,
      "catalyst.planning_s" -> c.planningMs / 1e3 / n,
      "read.exec_s" -> mean(tr.named("read.exec")),
      "catalog.files_scanned" -> catScanned / catalogReads.size,
      "catalog.skip_ratio" -> (if (live == 0) 0.0 else 1 - catScanned / live),
      "query.build_s" -> mean(tr.named("query.build")),
      "query.exec_s" -> mean(tr.named("query.exec")),
      "trace.overhead_s" -> (tracedS - untracedS) / n,
    ) ++ perModule ++ sparkMetrics(c, wall, ctx.cores, n)),
      "spans" -> tr.toJson, "untraced_s" -> untracedS, "traced_s" -> tracedS)
  }

  /** Live files of the table the catalog read scans. */
  private def catalogLive(ctx: Ctx, wh: String): Double =
    Manifest.currentLive(ctx.spark, Pipeline.martRoyaltiesPath(wh)).size.toDouble
}
