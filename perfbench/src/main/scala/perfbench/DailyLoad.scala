package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Pipeline
import graft.engine.{Compaction, Manifest, Publication, Upsert, WriterLease}
import graft.ingest.OdsBuilder
import graft.marts.Marts
import graft.star.StarBuilder

/** `daily_load`: the scheduler's view. Every generated day lands, one
  * after another, each `Pipeline.runDaily(checked = true)` then
  * `Pipeline.publishMartsJdbc` into embedded Derby; the first is set-up,
  * the rest are timed. Write-heavy: ingest, the upsert/commit core, dims,
  * the compaction trip and the JDBC publish; no analytic operators.
  */
object DailyLoad {
  import Main._

  /** Auto-compaction trips from the second day on, as the default policy
    * does every day once a warehouse is past its sixteenth: the small
    * date-partitioned tables never stop looking small. This puts the
    * steady-state compaction cost inside a run of a few days.
    */
  val Policy = Compaction.AutoPolicy(minFiles = 2)

  def tables(wh: String): Seq[String] = Seq(Pipeline.odsPath(wh),
    Pipeline.dimArtistPath(wh), Pipeline.dimCountryPath(wh),
    Pipeline.dimSongPath(wh), Pipeline.factPath(wh), Pipeline.martAvgPath(wh),
    Pipeline.martAppearancesPath(wh), Pipeline.martRoyaltiesPath(wh))

  def marts(wh: String): Seq[(String, String)] = Seq(
    "dm_avg_song_duration_by_country" -> Pipeline.martAvgPath(wh),
    "dm_artist_appearances_by_date" -> Pipeline.martAppearancesPath(wh),
    "dm_expected_artist_royalties_by_date" -> Pipeline.martRoyaltiesPath(wh))

  /** Mart columns in the order the python check recomputes them. */
  val MartColumns = Map(
    "dm_avg_song_duration_by_country" ->
      Seq("date", "country_name", "avg_duration_sec"),
    "dm_artist_appearances_by_date" -> Seq("date", "artist_name", "cnt_appearance"),
    "dm_expected_artist_royalties_by_date" -> Seq("date", "artist_name", "royalties"))

  def jdbcUrl(name: String) = s"jdbc:derby:memory:perfbench_$name;create=true"

  def dates(landing: String): Seq[String] =
    new File(landing).listFiles.filter(_.isDirectory).map(_.getName).sorted.toSeq

  /** One day exactly as the scheduler runs it. */
  def runDay(spark: SparkSession, landing: String, wh: String, date: String,
      url: String): Unit = {
    Pipeline.runDaily(spark, landing, wh, date, checked = true,
      autoCompactPolicy = Policy)
    Pipeline.publishMartsJdbc(spark, wh, url, date)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val landing = s"${ctx.input}/landing"
    val all = dates(landing)
    val wh = s"${ctx.work}/wh"
    val url = jdbcUrl("wh")
    // set-up: the first day lands, then ODS and fact are compacted once.
    // Before anything is timed this warms the JIT, codegen and the
    // session's caches on the paths a later day takes, compaction
    // included, and leaves the warehouse in the state every later day
    // sees, with auto-compaction tripping on each of them.
    val setupStart = now()
    runDay(spark, landing, wh, all.head, url)
    compactAll(spark, wh)
    val setupWall = secondsSince(setupStart)

    val days = ArrayBuffer.empty[Map[String, Any]]
    val tr = ctx.tracer
    tr.collecting = true
    val t0 = now()
    while (days.size + 1 < all.size) {
      val date = all(days.size + 1)
      tr.op = days.size
      val before = if (tr.enabled) versions(spark, wh) else 0L
      val (res, s) = attempt {
        if (tr.enabled) tr.span("day")(replayDay(ctx, landing, wh, date, url))
        else runDay(spark, landing, wh, date, url)
      }
      if (tr.enabled) {
        tr.spans.filter(x => x.op == tr.op && x.name == "day")
          .foreach(_.counts("manifest_commits") = (versions(spark, wh) - before).toDouble)
      }
      days += opEntry(date, s, res.left.toOption)
    }
    val wall = secondsSince(t0)
    tr.drain()
    tr.collecting = false
    val heap = liveHeapMb()
    // the load's footprint, before any check writes to the warehouse
    val whMb = bytesUnder(new File(wh)) / 1048576.0

    val base = Map(
      "workload" -> "daily_load",
      "setup_wall_s" -> setupWall,
      "landed" -> all.take(days.size + 1),
      "ops" -> days,
      "timed_wall_s" -> wall, "live_heap_mb" -> heap,
      "attempted" -> days.size)
    if (tr.enabled) base ++ traced(ctx, landing, all.take(days.size + 1), wh, wall, whMb)
    else base ++ exports(spark, wh, url)
  }

  /** Sum of the current manifest versions of the eight tables. */
  def versions(spark: SparkSession, wh: String): Long =
    tables(wh).flatMap(Manifest.currentVersion(spark, _)).sum

  /** The compaction `runDaily`'s policy runs, forced. */
  def compactAll(spark: SparkSession, wh: String): Unit =
    Seq(Pipeline.odsPath(wh) -> "source_date", Pipeline.factPath(wh) -> "date")
      .foreach { case (p, part) => Compaction.compact(spark, p, Some(part)) }

  /** Fingerprints of the eight tables, the quarantine and the Derby marts. */
  def snapshot(spark: SparkSession, wh: String, url: String): Map[String, (Long, String)] =
    fingerprints(tables(wh).map(p => p -> Manifest.read(spark, p)) ++
      Seq("quarantine" -> spark.read.parquet(Pipeline.quarantinePath(wh))) ++
      marts(wh).map { case (t, _) => s"jdbc_$t" -> jdbc(spark, url, t) })

  def jdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties)

  /** The marts and their Derby copies, for the python checks. */
  def exports(spark: SparkSession, wh: String, url: String): Map[String, Any] =
    Map("warehouse" -> wh, "marts" -> marts(wh).map { case (t, p) =>
      val cols = MartColumns(t).map(col)
      t -> Map("warehouse" -> rowsOf(Manifest.read(spark, p).select(cols: _*)),
        "jdbc" -> rowsOf(jdbc(spark, url, t).select(cols: _*)))
    }.toMap)

  // ---- traced replay --------------------------------------------------------

  private val OdsKeys = Seq("song_rank", "source_date", "country")

  /** `Pipeline.runDaily(checked = true)` + `publishMartsJdbc`, step by
    * step through the layers' public functions, one span per layer call.
    * The mirror check below proves it leaves the same tables.
    */
  def replayDay(ctx: Ctx, landing: String, wh: String, date: String,
      url: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val q = s"${Pipeline.quarantinePath(wh)}/day=$date"
    val day = tr.span("ingest") {
      val res = OdsBuilder.ingestChecked(spark, landing, s"$date/*.json")
      res.quarantine.write.mode("overwrite").parquet(q)
      res.ods
    }
    tr.span("engine.upsert_ods")(
      Upsert.upsertPartitioned(spark, Pipeline.odsPath(wh), day, OdsKeys,
        "source_date"))
    val filled = StarBuilder.imputePerDate(Manifest.read(spark, Pipeline.odsPath(wh))
      .filter(col("source_date") === lit(date).cast("date")))
    val (dimArtist, dimCountry, dimSong) = tr.span("star.dims") {
      (upsertDim(spark, Pipeline.dimArtistPath(wh),
        filled.select(col("artist_name")), "artist_id", Seq("artist_name")),
      upsertDim(spark, Pipeline.dimCountryPath(wh),
        filled.select(col("country").as("country_name")), "country_id",
        Seq("country_name")),
      upsertDim(spark, Pipeline.dimSongPath(wh),
        filled.select(col("song_name"), col("duration_filled").as("duration_sec")),
        "song_id", Seq("song_name", "duration_sec")))
    }
    tr.span("star.fact")(Upsert.upsertPartitioned(spark, Pipeline.factPath(wh),
      StarBuilder.fact(filled, dimArtist, dimSong, dimCountry),
      Seq("date", "country_id", "song_rank"), "date"))
    tr.span("marts") {
      val dayFact = Manifest.read(spark, Pipeline.factPath(wh))
        .filter(col("date") === lit(date).cast("date"))
      Upsert.upsertPartitioned(spark, Pipeline.martAvgPath(wh),
        Marts.avgSongDurationByCountry(dayFact, dimSong, dimCountry),
        Seq("date", "country_name"), "date")
      Upsert.upsertPartitioned(spark, Pipeline.martAppearancesPath(wh),
        Marts.artistAppearancesByDate(dayFact, dimArtist),
        Seq("date", "artist_name"), "date")
      Upsert.upsertPartitioned(spark, Pipeline.martRoyaltiesPath(wh),
        Marts.expectedArtistRoyaltiesByDate(dayFact, dimArtist),
        Seq("date", "artist_name"), "date")
    }
    tr.span("engine.publication")(Publication.publish(spark, wh,
      tables(wh).map(_.stripPrefix(s"$wh/"))))
    tr.span("engine.compaction") {
      Seq(Pipeline.odsPath(wh) -> "source_date", Pipeline.factPath(wh) -> "date")
        .foreach { case (p, part) =>
          Compaction.autoCompact(spark, p, partitionCol = Some(part),
            policy = Policy).foreach { case (before, _) =>
            tr.count("runs", 1)
            tr.count("files_rewritten", before.toDouble)
          }
        }
    }
    tr.span("engine.jdbc")(Pipeline.publishMartsJdbc(spark, wh, url, date))
  }

  /** `Pipeline.upsertDim` (private) through its public parts. */
  private def upsertDim(spark: SparkSession, path: String, candidates: DataFrame,
      idCol: String, keys: Seq[String]): DataFrame =
    WriterLease.withLease(spark, path) {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (fs.exists(p)) Manifest.read(spark, path)
        else {
          val keySchema = StructType(candidates.select(keys.map(col): _*).schema
            .fields.map(_.copy(nullable = true)))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
            StructField(idCol, LongType, nullable = false) +: keySchema.fields))
        }
      val updated = StarBuilder.dimIncremental(existing, candidates, idCol, keys)
      val tmp = new Path(path + ".staging")
      updated.write.mode("overwrite").parquet(tmp.toString)
      try Manifest.commit(spark, path, Manifest.stageIn(spark, path, tmp.toString))
      finally { fs.delete(tmp, true); () }
      Manifest.read(spark, path)
    }

  /** The eight tables on natural keys: ids dropped, fact ids resolved. */
  def naturalKeyed(spark: SparkSession, wh: String): Seq[(String, DataFrame)] = {
    val r = (p: String) => Manifest.read(spark, p)
    val artist = r(Pipeline.dimArtistPath(wh))
    val country = r(Pipeline.dimCountryPath(wh))
    val song = r(Pipeline.dimSongPath(wh))
    val fact = r(Pipeline.factPath(wh)).join(artist, "artist_id")
      .join(country, "country_id").join(song, "song_id")
      .drop("artist_id", "country_id", "song_id")
    Seq("ods" -> r(Pipeline.odsPath(wh)),
      "dim_artist" -> artist.drop("artist_id"),
      "dim_country" -> country.drop("country_id"),
      "dim_song" -> song.drop("song_id"), "fact" -> fact) ++
      marts(wh).map { case (t, p) => t -> r(p) }
  }

  /** Per-layer metrics per traced day, then two checks. Replaying the
    * last day must change no table, and the landed days through the real
    * `runDaily` into a second warehouse (the mirror) must leave eight
    * tables equal to the traced replay's on natural keys. The mirror's
    * walls for the timed days are the untraced total for the tracing
    * overhead. `whMb` is the warehouse's size right after the load.
    */
  def traced(ctx: Ctx, landing: String, landed: Seq[String], wh: String,
      wall: Double, whMb: Double): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val n = (landed.size - 1).toDouble
    val mirror = s"${ctx.work}/mirror"
    val url = jdbcUrl("mirror")
    runDay(spark, landing, mirror, landed.head, url)
    compactAll(spark, mirror)
    val (_, untracedS) = timed(landed.tail.foreach(d =>
      runDay(spark, landing, mirror, d, url)))
    val a = fingerprints(naturalKeyed(spark, wh))
    val b = fingerprints(naturalKeyed(spark, mirror))
    val mismatched = a.keys.toSeq.sorted.filter(t => a(t) != b(t))
    val before = snapshot(spark, wh, jdbcUrl("wh"))
    runDay(spark, landing, wh, landed.last, jdbcUrl("wh"))
    val replayUnchanged = before == snapshot(spark, wh, jdbcUrl("wh"))
    val quarantined = spark.read.parquet(Pipeline.quarantinePath(wh))
      .count() / landed.size.toDouble
    def secs(name: String) = tr.named(name).map(_.seconds).sum / n
    def jobs(name: String) = tr.named(name).map(_.counters.jobs).sum / n
    def counted(name: String, k: String) =
      tr.named(name).map(_.counts.getOrElse(k, 0.0)).sum / n
    val tracedS = tr.named("day").map(_.seconds).sum
    val layers = Map(
      "ingest.s" -> secs("ingest"),
      "ingest.quarantined_rows" -> quarantined,
      "engine.upsert_ods.s" -> secs("engine.upsert_ods"),
      "star.dims.s" -> secs("star.dims"),
      "star.dims.jobs" -> jobs("star.dims"),
      "star.fact.s" -> secs("star.fact"),
      "marts.s" -> secs("marts"),
      "marts.jobs" -> jobs("marts"),
      "engine.publication.s" -> secs("engine.publication"),
      "engine.manifest.commits" -> counted("day", "manifest_commits"),
      "engine.compaction.s" -> secs("engine.compaction"),
      "engine.compaction.runs" -> counted("engine.compaction", "runs"),
      "engine.compaction.files_rewritten" ->
        counted("engine.compaction", "files_rewritten"),
      "engine.jdbc.s" -> secs("engine.jdbc"),
      "engine.warehouse_mb_per_day" -> whMb / landed.size,
      "catalyst.analysis_s" -> tr.total.analysisMs / 1e3 / n,
      "catalyst.optimization_s" -> tr.total.optimizationMs / 1e3 / n,
      "catalyst.planning_s" -> tr.total.planningMs / 1e3 / n,
      "trace.overhead_s" -> (tracedS - untracedS) / n,
    ) ++ sparkMetrics(tr.total, wall, ctx.cores, n)
    Map("layers" -> layers, "spans" -> tr.toJson,
      "mirror_mismatched" -> mismatched, "replay_unchanged" -> replayUnchanged,
      "untraced_s" -> untracedS,
      "traced_s" -> tracedS)
  }
}
