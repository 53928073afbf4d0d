package lakebench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{CurationPipeline, LakehousePipeline}
import graft.sources.{LakeWriter, Views}

/** One step of a workload. `run` is the timed call sequence into graft;
  * `after` runs outside the timing (bookkeeping for the checks). */
final case class Op(kind: String, main: Boolean, write: Boolean, run: () => OpOut,
                    after: () => Unit = () => ())
final case class OpOut(rows: Long, attrs: Map[String, Double] = Map.empty)
final case class Check(name: String, ok: Boolean, detail: String)

abstract class Workload(val spark: SparkSession, val rec: Recorder, val seed: Long, val base: File) {
  /** Write the inputs for scale factor `sf` under `dir`: (rows, bytes) per table. */
  def inputs(dir: String, sf: Double): Map[String, (Long, Long)]
  /** Set-up beyond the inputs (the serve star). */
  def prepare(sfDir: String): Unit = ()
  /** Warm-up outside the measured phase. */
  def warmUp(): Unit
  /** The measured phase's seeded op list. Its length depends only on
    * `seconds`, never on the clock: it is sized to take about `seconds` on a
    * 4-core host with today's graft, and never shorter than a minimum. */
  def plan(sfDir: String, seconds: Double): Seq[Op]
  /** Directories whose bytes are `lake_mb`. */
  def lakes: Seq[File]
  def checks(): Seq[Check]
  def provenance: Seq[(String, String)] = Nil

  protected def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)
  /** `seconds / perOpS` ops, within [lo, hi]. */
  protected def opsFor(seconds: Double, perOpS: Double, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, math.round(seconds / perOpS).toInt))
  /** Fisher–Yates shuffle of `xs`, in place. */
  protected def shuffle[T](r: SplittableRandom, xs: Array[T]): Array[T] = {
    for (i <- xs.indices.reverse) { val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t }
    xs
  }
  protected def check(name: String)(body: => (Boolean, String)): Check =
    try { val (ok, d) = body; Check(name, ok, d) }
    catch { case t: Throwable => Check(name, ok = false, s"check raised ${t.getClass.getName}: ${t.getMessage}") }

  protected def eventsPerDate(sf: Double): Map[String, Long] =
    Gen.events(seed, sf).groupBy(r => r.getTimestamp(1).toInstant.toString.take(10))
      .map { case (d, rs) => d -> rs.size.toLong }
}

/** `LakehousePipeline.runDate(versionedDims = true)` per event date in
  * ascending order, at least two dates; after them, one `force = true`
  * reprocess of a seeded already-loaded date per three dates, at least one. */
final class LakeDaily(spark: SparkSession, rec: Recorder, seed: Long, base: File)
    extends Workload(spark, rec, seed, base) {
  val ReprocessEvery = 3
  private val lake = new File(base, "lake")
  private val loaded = mutable.LinkedHashSet.empty[String]
  private var reprocessed = 0

  def inputs(dir: String, sf: Double): Map[String, (Long, Long)] =
    Gen.write(spark, dir, seed, sf, Seq("events"))

  private def day(sfDir: String, out: File, date: String, force: Boolean) =
    rec.call("LakehousePipeline.runDate", "pipeline") {
      LakehousePipeline.runDate(spark, sfDir, out.getPath, date, force = force, versionedDims = true)
    }

  /** The sequence's first date, loaded into the measured lake outside the
    * phase: every measured day load then takes the MERGE path of a lake
    * that already has versions. */
  val WarmDays = 1
  private var sfDir = ""

  override def prepare(sfDir: String): Unit = this.sfDir = sfDir

  def warmUp(): Unit =
    Gen.dates.take(WarmDays).foreach { d => day(sfDir, lake, d, force = false); loaded += d }

  def plan(sfDir: String, seconds: Double): Seq[Op] = {
    val r = rng(1)
    val days = opsFor(seconds, 9.0, 2, Gen.dates.size - WarmDays)
    val loads = Gen.dates.slice(WarmDays, WarmDays + days).map { d =>
      Op("day_load", main = true, write = true, () => {
        val res = day(sfDir, lake, d, force = false)
        require(!res.skipped, s"$d was skipped as already loaded")
        OpOut(res.stgRows)
      }, () => loaded += d)
    }
    val again = Seq.fill(math.max(1, days / ReprocessEvery)) {
      Op("reprocess", main = false, write = true, () => {
        val res = day(sfDir, lake, loaded.toSeq(r.nextInt(loaded.size)), force = true)
        OpOut(res.stgRows)
      }, () => reprocessed += 1)
    }
    loads ++ again
  }

  def lakes: Seq[File] = Seq(lake)

  def checks(): Seq[Check] = {
    val expected = eventsPerDate(0.1).filter { case (d, _) => loaded(d) }
    val path = lake.getPath
    val factPerDate = check("fact rows equal non-null staged rows for each date") {
      val got = spark.read.parquet(s"$path/curated/fact_events").groupBy("date_sk").count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      val want = expected.map { case (d, n) => d.replace("-", "") -> n }
      (got == want, s"${want.size} dates; fact ${got.toSeq.sorted.take(3)} vs staged ${want.toSeq.sorted.take(3)}")
    }
    val ledger = check("the ledger has one row per date") {
      val rows = LakeWriter.readSnapshot(spark, s"$path/_meta/load_ledger")
        .groupBy("datadate").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (rows.keySet == loaded.toSet && rows.values.forall(_ == 1L),
        s"${rows.size} ledger dates, ${loaded.size} loaded, max rows per date ${rows.values.maxOption.getOrElse(0L)}")
    }
    val scd = check("dim_user_state: one current row per user, no overlapping intervals") {
      val dim = LakeWriter.readSnapshot(spark, s"$path/curated/dim_user_state")
      val users = Gen.events(seed, 0.1).filter(r => loaded(r.getTimestamp(1).toInstant.toString.take(10)))
        .map(_.getLong(2)).distinct.size.toLong
      val cur = dim.groupBy("user_id").agg(sum(col("is_current").cast("int")).as("c"))
      val badCurrent = cur.where(col("c") =!= 1).count()
      val nUsers = cur.count()
      val w = Window.partitionBy("user_id").orderBy("effective_from")
      val overlaps = dim.withColumn("next_from", lead(col("effective_from"), 1).over(w))
        .where(col("next_from").isNotNull && col("next_from") < col("effective_to")).count()
      (badCurrent == 0 && overlaps == 0 && nUsers == users,
        s"$nUsers users (want $users), $badCurrent without exactly one current row, $overlaps overlaps")
    }
    Seq(factPerDate, ledger, scd)
  }

  override def provenance: Seq[(String, String)] = Seq(
    "reprocess_every" -> ReprocessEvery.toString,
    "dates_loaded" -> loaded.size.toString, "reprocesses" -> reprocessed.toString)
}

/** `CurationPipeline.run` with default settings, every load in this one
  * session: seeded splits of the documents into ten loads, each load after
  * the first re-landing `RelandShare` × 500 exact copies of earlier loads'
  * docs. Load 0 is the warm-up; a run measures the next loads, at least
  * one, and ends with one `CurationPipeline.maintain`. */
final class CurationDaily(spark: SparkSession, rec: Recorder, seed: Long, base: File)
    extends Workload(spark, rec, seed, base) {
  val Loads = 10
  val RelandShare = 0.2
  private val out = new File(base, "curation")
  private val committed = mutable.ArrayBuffer.empty[Int] // completed loads

  /** (new ids, re-landed ids) per load for `n` docs. */
  private def split(n: Int): IndexedSeq[(Seq[Long], Seq[Long])] = {
    val r = rng(2)
    val perm = shuffle(r, (0L until n.toLong).toArray)
    val size = n / Loads
    (0 until Loads).map { i =>
      val fresh = perm.slice(i * size, (i + 1) * size).toSeq
      val earlier = perm.take(i * size)
      val re = if (i == 0) Seq.empty[Long]
        else Seq.fill(math.round(RelandShare * size).toInt)(earlier(r.nextInt(earlier.length))).distinct
      (fresh, re)
    }
  }

  def inputs(dir: String, sf: Double): Map[String, (Long, Long)] = {
    val written = Gen.write(spark, dir, seed, sf, Seq("documents"))
    val parts = split(Gen.nDocs(sf))
    val assign = parts.zipWithIndex.flatMap { case ((fresh, re), i) => (fresh ++ re).map(_ -> i) }
    // one landing file per load, written by one job
    Gen.read(spark, dir, "documents")
      .join(spark.createDataFrame(assign).toDF("doc_id", "load"), "doc_id")
      .repartition(col("load")).write.mode("overwrite").partitionBy("load")
      .parquet(s"$dir/landing")
    written + ("landing" -> (parts.map(p => (p._1.size + p._2.size).toLong).sum,
      Files.bytes(new File(s"$dir/landing"))))
  }

  private def load(dir: String, i: Int, corpus: File) =
    rec.call("CurationPipeline.run", "pipeline") {
      CurationPipeline.run(spark, spark.read.parquet(s"$dir/load=$i"), corpus.getPath)
    }

  private var sfDir = ""
  override def prepare(sfDir: String): Unit = this.sfDir = sfDir

  /** Load 0, into the measured corpus outside the phase: every measured
    * load then meets a corpus and runs the fingerprint anti-join. */
  def warmUp(): Unit = {
    load(s"$sfDir/landing", 0, out)
    committed += 0
  }

  def plan(sfDir: String, seconds: Double): Seq[Op] =
    (1 to opsFor(seconds, 20.0, 1, Loads - 1)).map { i =>
      Op("corpus_load", main = true, write = true, () => {
        val r = load(s"$sfDir/landing", i, out)
        def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
        OpOut(r.batchRows, Map(
          "operators.exact_keep_ratio" -> ratio(r.afterExact, r.batchRows),
          "operators.quality_pass_ratio" -> ratio(r.afterQuality, r.afterExact),
          "operators.near_dup_keep_ratio" -> ratio(r.afterNearDup, r.afterQuality)))
      }, () => committed += i)
    } :+ Op("maintain", main = false, write = false, () => {
      rec.call("CurationPipeline.maintain", "pipeline")(CurationPipeline.maintain(spark, out.getPath))
      OpOut(LakeWriter.snapshotRowCount(spark, s"${out.getPath}/corpus"))
    })

  def lakes: Seq[File] = Seq(out)

  def checks(): Seq[Check] = {
    val corpusPath = s"${out.getPath}/corpus"
    if (LakeWriter.snapshotVersions(spark, corpusPath).isEmpty)
      return Seq(Check("corpus exists", committed.isEmpty, s"${committed.size} loads completed, no corpus"))
    val corpus = LakeWriter.readSnapshot(spark, corpusPath)
    // a re-landed doc is an exact copy with the same doc_id and fp, so
    // uniqueness also means that no re-landed doc committed twice
    val unique = check("corpus doc_id and fp are unique, so no re-landed doc commits twice") {
      val row = corpus.agg(count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("fp"))).head()
      (row.getLong(0) == row.getLong(1) && row.getLong(0) == row.getLong(2),
        s"${row.getLong(0)} rows, ${row.getLong(1)} doc ids, ${row.getLong(2)} fingerprints")
    }
    val ledger = check("ledger corpus_rows equals snapshotRowCount") {
      val last = CurationPipeline.ledger(spark, out.getPath)
        .orderBy(col("corpus_version").desc).select("corpus_rows").head().getLong(0)
      val n = LakeWriter.snapshotRowCount(spark, corpusPath)
      (last == n, s"ledger $last, snapshot $n")
    }
    val fromCompleted = check("every corpus doc was landed by a completed load") {
      val parts = split(Gen.nDocs(0.1))
      val landed = committed.flatMap { i => parts(i)._1 ++ parts(i)._2 }.toSet
      val ids = corpus.select("doc_id").collect().map(_.getLong(0))
      val stray = ids.count(id => !landed(id))
      (stray == 0, s"${ids.length} corpus docs, ${committed.size} completed loads, $stray from no completed load")
    }
    Seq(unique, ledger, fromCompleted)
  }

  override def provenance: Seq[(String, String)] = Seq(
    "loads_in_split" -> Loads.toString, "reland_share" -> RelandShare.toString,
    "docs_per_load" -> (Gen.nDocs(0.1) / Loads).toString,
    "loads_completed" -> committed.size.toString)
}

/** Analyst SQL over the star built by `LakehousePipeline.run`, served by
  * `Views.registerZone`; every `WriteEvery`-th op is a write:
  * `runDate(force = true)` of a seeded date, then `registerZone` again.
  * A run serves at least 55 queries, eleven of each template, and so makes
  * at least one write. The query after a write that reads a rewritten
  * table is slower; with eleven per template, the median lands inside a
  * template's spread of latencies, not on the edge between two. */
final class ServeMixed(spark: SparkSession, rec: Recorder, seed: Long, base: File)
    extends Workload(spark, rec, seed, base) {
  val WriteEvery = 29
  private val star = new File(base, "star")
  private def ledgerPath(s: File) = s"${s.getPath}/_meta/load_ledger"
  private var factRows = 0L
  private var dimRows = 0L
  private var expectedFact = 0L
  private var sfDir = ""
  private val ledgerCounts = mutable.LinkedHashMap.empty[Long, Long] // version -> rows at commit
  private val rollupTotals = mutable.ArrayBuffer.empty[Long]
  private val travelReads = mutable.ArrayBuffer.empty[(Long, Long)]   // (version, rows read)
  private val pitRows = mutable.ArrayBuffer.empty[Int]

  def inputs(dir: String, sf: Double): Map[String, (Long, Long)] =
    Gen.write(spark, dir, seed, sf, Seq("events"))

  private def build(sfDir: String, s: File): Unit = {
    rec.call("LakehousePipeline.run", "pipeline")(LakehousePipeline.run(spark, sfDir, s.getPath))
    register(s)
  }
  private def register(s: File): Unit =
    rec.call("Views.registerZone", "sources")(Views.registerZone(spark, s"${s.getPath}/curated"))
  private def write(sfDir: String, s: File, date: String): Long = {
    val r = rec.call("LakehousePipeline.runDate", "pipeline") {
      LakehousePipeline.runDate(spark, sfDir, s.getPath, date, force = true)
    }
    register(s)
    r.stgRows
  }
  private def recordLedger(s: File): Unit = {
    val vs = LakeWriter.snapshotVersions(spark, ledgerPath(s))
    vs.lastOption.foreach(v => ledgerCounts(v) = LakeWriter.readSnapshot(spark, ledgerPath(s), Some(v)).count())
  }

  override def prepare(sfDir: String): Unit = {
    this.sfDir = sfDir
    build(sfDir, star)
    factRows = spark.table("fact_events").count()
    dimRows = spark.table("dim_user_state").count()
    expectedFact = Gen.nEvents(0.1).toLong
  }

  /** Warms on the sf0.1 star itself: one write (a reprocess of the first
    * date, which leaves the data as it was and commits the ledger's first
    * snapshot), then each query template twice and two time-travel reads. */
  def warmUp(): Unit = {
    val r = rng(9)
    write(sfDir, star, Gen.dates.head)
    recordLedger(star)
    for (_ <- 1 to 2; t <- 0 to 3) spark.sql(query(t, r)).collect()
    for (_ <- 1 to 2) {
      Views.registerSnapshotAsOf(spark, ledgerPath(star), "load_ledger_asof", ledgerCounts.head._1)
      spark.sql("SELECT count(*) FROM load_ledger_asof").collect()
    }
  }

  private val t0 = Gen.Start.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  private def query(template: Int, r: SplittableRandom): String = template match {
    case 0 =>
      """SELECT d.date, t.event_type, grouping_id() AS g, count(*) AS n, sum(f.value) AS v
        |FROM fact_events f JOIN dim_date d ON f.date_sk = d.date_sk
        |JOIN dim_event_type t ON f.event_type_sk = t.event_type_sk
        |GROUP BY ROLLUP(d.date, t.event_type)""".stripMargin
    case 1 =>
      // a fixed one-week range, so this template's cost does not vary by seed
      val a = r.nextInt(Gen.Days - 7); val b = a + 6
      val n = Seq(10, 20, 50)(r.nextInt(3))
      s"""SELECT user_id, count(*) AS n, round(sum(value), 2) AS v FROM fact_events
         |WHERE date_sk BETWEEN ${sk(a)} AND ${sk(b)}
         |GROUP BY user_id ORDER BY v DESC, user_id LIMIT $n""".stripMargin
    case 2 =>
      s"""SELECT d.date, count(*) AS n, avg(f.value) AS v
         |FROM fact_events f JOIN dim_date d ON f.date_sk = d.date_sk
         |WHERE f.event_type_sk = ${1 + r.nextInt(Gen.EventTypes.length)}
         |GROUP BY d.date ORDER BY d.date""".stripMargin
    case _ =>
      val ts = java.time.Instant.ofEpochSecond(t0 + r.nextLong(Gen.Days * 86400L))
        .toString.replace("T", " ").stripSuffix("Z")
      s"""SELECT user_id, state FROM dim_user_state
         |WHERE user_id = ${r.nextInt(Gen.nUsers(0.1))}
         |AND effective_from <= TIMESTAMP '$ts' AND TIMESTAMP '$ts' < effective_to""".stripMargin
  }
  private def sk(dayOffset: Int) = Gen.Start.plusDays(dayOffset).toString.replace("-", "")

  /** Queries rotate through the five templates in a seeded order, each
    * template once per block of five, so every run serves the same mix;
    * parameters are seeded. */
  def plan(sfDir: String, seconds: Double): Seq[Op] = {
    val r = rng(3)
    val queries = opsFor(seconds, 0.4, 55, 4000)
    var block = IndexedSeq.empty[Int]
    // the last op is a query: every WriteEvery-th op is a write
    Iterator.from(1).take(queries + (queries - 1) / (WriteEvery - 1)).map { k =>
      if (k % WriteEvery == 0) {
        val date = Gen.dates(r.nextInt(Gen.Days))
        Op("write", main = false, write = true, () => OpOut(write(sfDir, star, date)),
          () => recordLedger(star))
      } else {
        if (block.isEmpty) block = shuffle(r, Array.range(0, 5)).toIndexedSeq
        val template = block.head
        block = block.tail
        if (template == 4) travel(r) else select(template, r)
      }
    }.toVector
  }

  /** Reads a seeded version among those committed before it runs. */
  private def travel(r: SplittableRandom): Op =
    Op("query time_travel", main = true, write = false, () => {
      val versions = ledgerCounts.keys.toIndexedSeq
      val v = versions(r.nextInt(versions.size))
      val rows = ledgerCounts(v)
      rec.call("Views.registerSnapshotAsOf", "sources") {
        Views.registerSnapshotAsOf(spark, ledgerPath(star), "load_ledger_asof", v)
      }
      val n = rec.call("collect time_travel", "serve") {
        spark.sql("SELECT count(*) FROM load_ledger_asof").collect()
      }.head.getLong(0)
      travelReads += (v -> n)
      OpOut(rows)
    })

  private def select(template: Int, r: SplittableRandom): Op = {
    val q = query(template, r)
    val name = Seq("rollup", "top_users", "daily_series", "pit_lookup")(template)
    Op(s"query $name", main = true, write = false, () => {
      val planStart = System.nanoTime()
      val df = rec.call(s"plan $name", "serve") {
        val d = spark.sql(q)
        d.queryExecution.executedPlan
        d
      }
      val execStart = System.nanoTime()
      val rows = rec.call(s"collect $name", "serve")(df.collect())
      val end = System.nanoTime()
      if (template == 0) rollupTotals += rows.find(_.getAs[Long]("g") == 3L).map(_.getAs[Long]("n")).getOrElse(-1L)
      if (template == 3) pitRows += rows.length
      OpOut(if (template == 3) dimRows else factRows,
        Map("serve.plan_s" -> (execStart - planStart) / 1e9, "serve.exec_s" -> (end - execStart) / 1e9))
    })
  }

  def lakes: Seq[File] = Seq(star)

  def checks(): Seq[Check] = Seq(
    check("the rollup's grand total equals the fact row count") {
      val now = spark.read.parquet(s"${star.getPath}/curated/fact_events").count()
      (now == expectedFact && rollupTotals.forall(_ == expectedFact),
        s"${rollupTotals.size} rollups, totals ${rollupTotals.distinct.take(3)}; fact rows $now; want $expectedFact")
    },
    check("each time-travel read equals the row count recorded at its commit") {
      val bad = travelReads.filter { case (v, n) => !ledgerCounts.get(v).contains(n) }
      (bad.isEmpty, s"${travelReads.size} time-travel reads over ${ledgerCounts.size} versions, ${bad.size} differ")
    },
    check("a point-in-time lookup finds at most one state") {
      (pitRows.forall(_ <= 1), s"${pitRows.size} lookups, max rows ${pitRows.maxOption.getOrElse(0)}")
    })

  override def provenance: Seq[(String, String)] = Seq(
    "write_every" -> WriteEvery.toString, "fact_rows" -> factRows.toString,
    "dim_user_state_rows" -> dimRows.toString, "ledger_versions" -> ledgerCounts.size.toString)
}
