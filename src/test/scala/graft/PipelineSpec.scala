package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ConcurrentWriterException, Manifest, WriterLease}

/** The cross-day product contract: incremental daily runs with stable
  * dim ids, append-only fact, idempotent replays, and mart parity with a
  * full rebuild.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val landing = graft.ingest.OdsBuilder.fixtureRoot
  private lazy val wh = Files.createTempDirectory("graft-wh").toString

  /** The eight star tables as multisets of rows on natural keys: dim ids
    * dropped, fact ids resolved through the dims, columns in name order.
    */
  private def naturalKeyed(w: String): Map[String, Map[Seq[Any], Int]] = {
    val r = (p: String) => Manifest.read(spark, p)
    val artist = r(Pipeline.dimArtistPath(w))
    val country = r(Pipeline.dimCountryPath(w))
    val song = r(Pipeline.dimSongPath(w))
    val fact = r(Pipeline.factPath(w)).join(artist, "artist_id")
      .join(country, "country_id").join(song, "song_id")
      .drop("artist_id", "country_id", "song_id")
    Seq("ods" -> r(Pipeline.odsPath(w)),
      "dim_artist" -> artist.drop("artist_id"),
      "dim_country" -> country.drop("country_id"),
      "dim_song" -> song.drop("song_id"), "fact" -> fact,
      "mart_avg" -> r(Pipeline.martAvgPath(w)),
      "mart_appearances" -> r(Pipeline.martAppearancesPath(w)),
      "mart_royalties" -> r(Pipeline.martRoyaltiesPath(w)))
      .map { case (t, df) =>
        t -> df.select(df.columns.sorted.map(col).toSeq: _*).collect()
          .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }
      }.toMap
  }

  test("two daily runs build the warehouse incrementally with stable dim ids") {
    Pipeline.runDaily(spark, landing, wh, "2024-05-01")
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh)).count() === 33)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(wh)).count() === 33)
    val songsDay1 = graft.engine.Manifest.read(spark, Pipeline.dimSongPath(wh))
      .as[(Long, String, Long)].collect().toSet
    val artistsDay1 = graft.engine.Manifest.read(spark, Pipeline.dimArtistPath(wh))
      .as[(Long, String)].collect().toSet

    Pipeline.runDaily(spark, landing, wh, "2024-05-02")
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(wh)).count() === 66)

    // serial semantics: every day-1 id survives day 2 unchanged
    val songsDay2 = graft.engine.Manifest.read(spark, Pipeline.dimSongPath(wh))
      .as[(Long, String, Long)].collect().toSet
    assert(songsDay1.subsetOf(songsDay2))
    assert(songsDay2.size > songsDay1.size, "day 2 should add new song keys")
    val artistsDay2 = graft.engine.Manifest.read(spark, Pipeline.dimArtistPath(wh))
      .as[(Long, String)].collect().toSet
    assert(artistsDay2 === artistsDay1, "no new artists on day 2")

    // ids are dense and unique
    val ids = songsDay2.map(_._1)
    assert(ids === (1L to ids.size).toSet)
  }

  test("replaying a day is a no-op for every table") {
    val before = Seq(Pipeline.odsPath(wh), Pipeline.factPath(wh),
      Pipeline.dimSongPath(wh), Pipeline.martRoyaltiesPath(wh))
      .map(p => p -> graft.engine.Manifest.read(spark, p).count()).toMap
    Pipeline.runDaily(spark, landing, wh, "2024-05-02")
    before.foreach { case (p, n) =>
      assert(graft.engine.Manifest.read(spark, p).count() === n, s"replay changed $p")
    }
  }

  test("incremental royalties mart equals the full single-pass rebuild") {
    val incremental = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh))
      .select(col("date").cast("string"), col("artist_name"), col("royalties"))
      .as[(String, String, Double)].collect().toSet
    val fullRebuild = graft.queries.IngestQueries.e2eRoyaltiesQuery.run(spark, "")
      .select(col("date").cast("string"), col("artist_name"), col("royalties"))
      .as[(String, String, Double)].collect().toSet
    assert(incremental === fullRebuild)
  }

  test("backfill runs exactly the missing dates, oldest first, and is then a no-op") {
    val wh2 = Files.createTempDirectory("graft-wh-backfill").toString
    // seed only the SECOND date; backfill must then pick up the first
    Pipeline.runDaily(spark, landing, wh2, "2024-05-02")
    val ran = Pipeline.backfill(spark, landing, wh2)
    assert(ran === Seq("2024-05-01"))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh2)).count() === 66)
    // warehouse now matches the in-order build (same marts, same rows)
    val royalties = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh2)).count()
    assert(royalties === graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh)).count())
    // fully caught up -> nothing to do
    assert(Pipeline.backfill(spark, landing, wh2) === Seq.empty)
  }

  test("backfill repairs a day that crashed after ODS but before the marts") {
    val wh3 = Files.createTempDirectory("graft-wh-repair").toString
    Pipeline.runDaily(spark, landing, wh3, "2024-05-01")
    Pipeline.runDaily(spark, landing, wh3, "2024-05-02")
    // simulate a crash mid-run: day 2's mart commits never happened —
    // roll each mart's manifest back one version, leaving day-2's data
    // files behind as the orphans a real pre-commit crash leaves
    Seq(Pipeline.martRoyaltiesPath(wh3), Pipeline.martAvgPath(wh3),
      Pipeline.martAppearancesPath(wh3)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    // done-marker is the LAST-written table, so the day is re-run
    assert(Pipeline.backfill(spark, landing, wh3) === Seq("2024-05-02"))
    assert(graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(wh3))
      .filter(col("date") === "2024-05-02").count() > 0)
    // ODS replay inside the repair appended nothing new
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh3)).count() === 66)
  }

  test("backfill re-runs a date that only one mart is missing") {
    // the marts commit concurrently, so royalties can land while a
    // sibling mart crashes: the day is done only when all three have it
    val whM = Files.createTempDirectory("graft-wh-onemart").toString
    Pipeline.runDaily(spark, landing, whM, "2024-05-01")
    Pipeline.runDaily(spark, landing, whM, "2024-05-02")
    val avg = Pipeline.martAvgPath(whM)
    Manifest.rollback(spark, avg, Manifest.currentVersion(spark, avg).get - 1)
    assert(Manifest.read(spark, avg).filter(col("date") === "2024-05-02")
      .count() === 0)
    assert(Pipeline.backfill(spark, landing, whM) === Seq("2024-05-02"))
    assert(Manifest.read(spark, avg).filter(col("date") === "2024-05-02")
      .count() > 0)
    assert(Pipeline.backfill(spark, landing, whM) === Seq.empty)
  }

  test("a foreign lease on one dim fails the day after its sibling dims " +
      "finish, leaves no debris, and a replay heals the warehouse") {
    val whF = Files.createTempDirectory("graft-wh-foreign").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val planted = new org.apache.hadoop.fs.Path(
      Pipeline.dimSongPath(whF) + ".__writer_lease")
    val out = fs.create(planted, false)
    out.write("host=graft-other-host.invalid pid=1 acquired=elsewhere"
      .getBytes("UTF-8"))
    out.close()
    intercept[ConcurrentWriterException](
      Pipeline.runDaily(spark, landing, whF, "2024-05-01"))
    // the sibling dims ran to their commits before the failure surfaced,
    // and nothing after the dim group ran
    Seq(Pipeline.dimArtistPath(whF), Pipeline.dimCountryPath(whF)).foreach {
      p => assert(Manifest.currentVersion(spark, p).isDefined, s"$p not committed")
    }
    assert(Manifest.currentVersion(spark, Pipeline.factPath(whF)).isEmpty)
    val left = Files.walk(java.nio.file.Paths.get(whF)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(left.filter(_.endsWith(".__writer_lease")) ===
      Seq("dds_dim_song.__writer_lease"))
    assert(!left.exists(_.contains("staging")), s"staging left in $left")
    assert(WriterLease.breakLease(spark, Pipeline.dimSongPath(whF)))
    Pipeline.runDaily(spark, landing, whF, "2024-05-01")
    val clean = Files.createTempDirectory("graft-wh-clean").toString
    Pipeline.runDaily(spark, landing, clean, "2024-05-01")
    assert(naturalKeyed(whF) === naturalKeyed(clean))
  }

  test("every job runDaily and publishMartsJdbc submit carries the " +
      "caller's job group") {
    // concurrent steps run on fresh threads that inherit the caller's
    // local properties, so cancelJobGroup and scheduler pools still
    // reach them
    val whG = Files.createTempDirectory("graft-wh-jobgroup").toString
    val url = "jdbc:derby:memory:graft_pipeline_jobgroup;create=true"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    org.apache.spark.graftshim.CoreShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "one pipeline day")
    try {
      Pipeline.runDaily(spark, landing, whG, "2024-05-01")
      Pipeline.publishMartsJdbc(spark, whG, url, "2024-05-01")
    } finally {
      sc.clearJobGroup()
      org.apache.spark.graftshim.CoreShims.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "g"), s"job groups seen: ${seen.distinct}")
  }

  test("backfill's automatic retry heals a writer that died holding " +
      "the fact-table lease") {
    // The reference's Airflow retry self-heals after a task crash
    // because Postgres MVCC releases a dead connection's locks; our
    // parquet lease must not dead-end the same policy. Simulate the
    // kill -9 aftermath: day 2 crashed after ODS landed but before the
    // star/marts, leaving the fact table's lease held by a dead pid on
    // THIS host.
    val whL = Files.createTempDirectory("graft-wh-lease").toString
    Pipeline.runDaily(spark, landing, whL, "2024-05-01")
    Pipeline.runDaily(spark, landing, whL, "2024-05-02")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(Pipeline.martRoyaltiesPath(whL), Pipeline.martAvgPath(whL),
      Pipeline.martAppearancesPath(whL)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    val lease = new org.apache.hadoop.fs.Path(
      Pipeline.factPath(whL) + ".__writer_lease")
    val host = java.net.InetAddress.getLocalHost.getHostName
    val deadPid = Iterator.iterate(4400000L)(_ + 1)
      .find(p => ProcessHandle.of(p).isEmpty).get
    val out = fs.create(lease, false)
    out.write(s"host=$host pid=$deadPid acquired=crash".getBytes("UTF-8"))
    out.close()
    // the automatic-retry path completes the day; no human breakLease
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(Pipeline.backfill(spark, landing, whL, retries = 5,
      retrySleep = delays.append) === Seq("2024-05-02"))
    // acquisition self-heals on the FIRST attempt — no retry burned
    assert(delays.isEmpty)
    assert(!fs.exists(lease))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(whL)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(whL)).count() === 66)
    assert(graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(whL))
      .filter(col("date") === "2024-05-02").count() > 0)
  }

  test("a crash between the dim and fact publishes is healed by " +
      "re-running the day") {
    // The reference's DAG-3 runs dims and fact as separate transactions
    // (`from_ods_to_dds_pg.py`), so a crash between them is a reachable
    // state in both systems; the idempotent re-run must complete the
    // star without duplicating dims, ids, or fact rows.
    val whC = Files.createTempDirectory("graft-wh-dimcrash").toString
    Pipeline.runDaily(spark, landing, whC, "2024-05-01")
    Pipeline.runDaily(spark, landing, whC, "2024-05-02")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // reconstruct the crash state: dims HOLD day-2 entries, but day 2's
    // fact and mart commits never published (manifests rolled back one
    // version; the day-2 files stay behind as pre-commit orphans)
    Seq(Pipeline.martRoyaltiesPath(whC), Pipeline.martAvgPath(whC),
      Pipeline.martAppearancesPath(whC), Pipeline.factPath(whC)).foreach { m =>
      graft.engine.Manifest.rollback(spark, m,
        graft.engine.Manifest.currentVersion(spark, m).get - 1)
    }
    val dimsBefore = Seq(Pipeline.dimSongPath(whC),
      Pipeline.dimArtistPath(whC), Pipeline.dimCountryPath(whC))
      .map(p => p -> graft.engine.Manifest.read(spark, p).collect().map(_.toSeq).toSet)
    assert(graft.engine.Manifest.read(spark, Pipeline.factPath(whC)).count() === 33)
    assert(Pipeline.backfill(spark, landing, whC) === Seq("2024-05-02"))
    // star complete again...
    val fact = graft.engine.Manifest.read(spark, Pipeline.factPath(whC))
    assert(fact.count() === 66)
    // ...duplicate-free on the fact natural key...
    assert(fact.select("date", "country_id", "song_rank").distinct()
      .count() === 66)
    // ...and the repair re-derived the SAME dims, byte for byte — ids
    // assigned before the crash stayed stable through the replay
    dimsBefore.foreach { case (p, before) =>
      assert(graft.engine.Manifest.read(spark, p).collect().map(_.toSeq).toSet === before,
        s"repair changed $p")
    }
    // marts restored and keyed uniquely per (date, name)
    val roy = graft.engine.Manifest.read(spark, Pipeline.martRoyaltiesPath(whC))
    assert(roy.filter(col("date") === "2024-05-02").count() > 0)
    assert(roy.select("date", "artist_name").distinct().count() === roy.count())
  }

  test("checked runDaily survives a poison file and persists the quarantine") {
    val wh5 = Files.createTempDirectory("graft-wh-checked").toString
    val land5 = Files.createTempDirectory("graft-landing-poison").toString
    val src = java.nio.file.Paths.get(landing, "2024-05-01")
    val dst = java.nio.file.Paths.get(land5, "2024-05-01")
    Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach(f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
    // poison lands next to the real files
    java.nio.file.Files.writeString(
      dst.resolve("Atlantis_2024-05-01.json"), """{ "tracks": { "track": [""")
    // strict mode dies on this feed (PERMISSIVE is off); checked survives
    Pipeline.runDaily(spark, land5, wh5, "2024-05-01", checked = true)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh5)).count() === 33)
    val q = graft.engine.Manifest.read(spark, s"${Pipeline.quarantinePath(wh5)}/day=2024-05-01")
      .select("reason").as[String].collect().toList
    assert(q === List("malformed_json"))
    // replay: same warehouse, no duplicated quarantine rows
    Pipeline.runDaily(spark, land5, wh5, "2024-05-01", checked = true)
    assert(graft.engine.Manifest.read(spark, s"${Pipeline.quarantinePath(wh5)}/day=2024-05-01")
      .count() === 1)
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh5)).count() === 33)
    // unattended catch-up with the same poison: checked backfill routes
    // it instead of aborting (fresh warehouse, both days from landing)
    val day2src = java.nio.file.Paths.get(landing, "2024-05-02")
    val day2dst = java.nio.file.Paths.get(land5, "2024-05-02")
    Files.createDirectories(day2dst)
    java.nio.file.Files.list(day2src).forEach(f =>
      java.nio.file.Files.copy(f, day2dst.resolve(f.getFileName.toString)))
    val wh6 = Files.createTempDirectory("graft-wh-checked-bf").toString
    assert(Pipeline.backfill(spark, land5, wh6, checked = true) ===
      Seq("2024-05-01", "2024-05-02"))
    assert(graft.engine.Manifest.read(spark, Pipeline.odsPath(wh6)).count() === 66)
  }

  test("backfill skips a landed date dir that has no files yet") {
    val wh4 = Files.createTempDirectory("graft-wh-empty").toString
    val land2 = Files.createTempDirectory("graft-landing-empty").toString
    // copy one real day, plus one created-but-unwritten drop dir
    val src = java.nio.file.Paths.get(landing, "2024-05-01")
    val dst = java.nio.file.Paths.get(land2, "2024-05-01")
    Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach(f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)))
    Files.createDirectories(java.nio.file.Paths.get(land2, "2024-05-03"))
    assert(Pipeline.backfill(spark, land2, wh4) === Seq("2024-05-01"))
  }
}
