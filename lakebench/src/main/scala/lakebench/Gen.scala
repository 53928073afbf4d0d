package lakebench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs with the shape of graft's sf0.1 test tables.
  *
  * `events`: 1,000,000 × sf rows over 30 days from 2024-01-01, 15,000 × sf
  * users, five event types, exponential `value`, `{"k": n}` props.
  * `documents`: 50,000 × sf docs of 10–100 words from graft's 30-word test
  * vocabulary; 5% are near-duplicates of an earlier doc (a few leading
  * characters dropped, " dup" appended) and a few are exact copies.
  *
  * Only the seed and the scale factor decide the rows, so the same seed
  * gives byte-identical inputs. graft sees nothing but the parquet files.
  */
object Gen {

  val Days = 30
  val Start: java.time.LocalDate = java.time.LocalDate.parse("2024-01-01")
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  val Vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(" ")
  val Langs: Array[(String, Double)] =
    Array("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def dates: Seq[String] = (0 until Days).map(Start.plusDays(_).toString)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def nEvents(sf: Double): Int = math.max(1, math.round(1e6 * sf).toInt)
  def nUsers(sf: Double): Int = math.max(1, math.round(15000 * sf).toInt)
  def nDocs(sf: Double): Int = math.max(1, math.round(50000 * sf).toInt)

  def events(seed: Long, sf: Double): Seq[Row] = {
    val r = new java.util.SplittableRandom(seed * 31 + 1)
    val span = Days * 86400L * 1000000L
    val t0 = Start.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
    val users = nUsers(sf)
    val ts = Array.fill(nEvents(sf))(r.nextLong(span)).sorted
    ts.indices.map { i =>
      val micros = t0 + ts(i)
      val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      val value = math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0
      Row(i.toLong, t, r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.length)),
        value, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def documents(seed: Long, sf: Double): Seq[Row] = {
    val r = new java.util.SplittableRandom(seed * 31 + 2)
    val n = nDocs(sf)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.05) {
          val src = texts(r.nextInt(i))
          src.drop(1 + r.nextInt(4)) + " dup"
        } else if (i > 0 && u < 0.052) texts(r.nextInt(i))
        else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    texts.indices.map { i =>
      var u = r.nextDouble()
      val lang = Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.last)._1
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** Write `<table>.parquet` under `dir` for each of `tables` (`events`,
    * `documents`), the layout `graft.sources.Tables.load` reads. Returns
    * (rows, bytes) per table. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double, tables: Seq[String])
      : Map[String, (Long, Long)] = {
    def one(name: String, schema: StructType, rows: Seq[Row]): (String, (Long, Long)) = {
      val path = s"$dir/$name.parquet"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(path)
      name -> (rows.size.toLong, Files.bytes(new java.io.File(path)))
    }
    tables.map {
      case "events" => one("events", eventSchema, events(seed, sf))
      case "documents" => one("documents", docSchema, documents(seed, sf))
    }.toMap
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

object Files {
  def bytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
}
