package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => NioFiles, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-system helpers: data bytes and files under a directory (Spark's
  * `_SUCCESS` markers and hidden `.crc` files excluded), and removal. */
object Disk {
  import scala.jdk.CollectionConverters._
  private def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!NioFiles.exists(root)) Seq.empty
    else {
      val walk = NioFiles.walk(root)
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        NioFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally walk.close()
    }
  }
  def bytesUnder(dir: String): Long = dataFiles(dir).map(NioFiles.size).sum
  def filesUnder(dir: String): Long = dataFiles(dir).size.toLong
  def remove(dir: String): Unit = {
    val root = Paths.get(dir)
    if (NioFiles.exists(root)) {
      val walk = NioFiles.walk(root)
      try walk.iterator().asScala.toList.reverse.foreach(NioFiles.deleteIfExists)
      finally walk.close()
    }
  }
}

/**
 * Seeded inputs. Every generated value is a function of the run's seed and
 * a row index, so one seed always gives the same bytes.
 */
object Inputs {

  val EventTypes = Seq("INJURY", "malfunction", "Death", "N/A", "Recall")
  val Manufacturers = Seq("ACME CORP", "acme corp", "MedTech GmbH", "ZETA DEVICES", "NoSuch Inc")
  val Keywords = Seq("routine operation reported", "leak detected near valve",
    "pump fracture and break observed", "thrombus noted on lead")

  /** Manufacturer seed CSV: both ACME spellings canonicalize; 'NoSuch Inc'
    * is absent, so its reports keep the raw name. */
  def manufacturerCsv(path: String): Unit =
    NioFiles.writeString(Paths.get(path),
      "RAW_NAME,CANONICAL_NAME,MANUFACTURER_ID\n" +
        "ACME CORP,Acme Corporation,1\nMEDTECH GMBH,MedTech GmbH,2\n" +
        "ZETA DEVICES,Zeta Devices,3\n", UTF_8)

  /** A hash lane of (seed, salt, column), non-negative, below `mod`. */
  private def lane(seed: Long, salt: Int, c: Column, mod: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), c), lit(mod))

  private def pick(xs: Seq[String], seed: Long, salt: Int, c: Column): Column =
    element_at(typedlit(xs), (lane(seed, salt, c, xs.size.toLong) + 1).cast("int"))

  /**
   * MAUDE NDJSON landing of `rows` reports with unique `mdr_report_key`s,
   * written as `files` files. The field mix: ~1 % malformed
   * `date_received`, dates spread over 2018-2024, mixed-case event types
   * and manufacturers, and failure-mode keywords in the narrative.
   * Returns the landing's data bytes.
   */
  def landing(spark: SparkSession, dir: String, rows: Long, files: Int, seed: Long): Long = {
    val id = col("id")
    val dateRecv = when(lane(seed, 1, id, 100) === 0, lit("2020xx01"))
      .otherwise(date_format(date_add(lit("2018-01-01").cast("date"),
        lane(seed, 2, id, 2520).cast("int")), "yyyyMMdd"))
    spark.range(0, rows, 1, files).select(to_json(struct(
        format_string("MDR%010d", id).as("mdr_report_key"),
        format_string("RN-%d", id).as("report_number"),
        dateRecv.as("date_received"),
        pick(EventTypes, seed, 3, id).as("event_type"),
        format_string("P%02d", lane(seed, 4, id, 40)).as("device_report_product_code"),
        array(struct(
          pick(Manufacturers, seed, 5, id).as("manufacturer_d_name"),
          format_string("Brand%d", lane(seed, 6, id, 12)).as("brand_name"))).as("device"),
        array(struct(pick(Keywords, seed, 7, id).as("text")),
          struct(format_string("detail fragment %d", id).as("text"))).as("mdr_text")
      )).as("value"))
      .write.mode("overwrite").text(dir)
    Disk.bytesUnder(dir)
  }

  /**
   * Re-send landing of a streaming feed: `keys` report keys, each sent
   * `sends` times, the sends scattered over `files` NDJSON files. Every
   * send carries a unique sequence number in its `report_number`
   * (`RN-<seq>`), so "latest wins" per key is well defined. Written by
   * this JVM, not by Spark, so each file is exactly one file-source
   * entry. Returns the landing's data bytes.
   */
  def resendLanding(dir: String, keys: Int, sends: Int, files: Int, seed: Long): Long = {
    NioFiles.createDirectories(Paths.get(dir))
    val rnd = new java.util.SplittableRandom(seed)
    val out = (0 until files).map(f =>
      NioFiles.newBufferedWriter(Paths.get(dir, f"part-$f%02d.json"), UTF_8))
    try {
      val salt = rnd.nextLong() & ((1L << 40) - 1)
      for (r <- 0L until keys.toLong * sends) {
        val key = (r % keys).toInt
        // an odd multiplier is a bijection mod 2^40: distinct sends, distinct seqs
        val seq = (r * 0x9E3779B97F4A7C15L + salt) & ((1L << 40) - 1)
        val date =
          if (rnd.nextInt(100) == 0) "2020xx01"
          else java.time.LocalDate.of(2018, 1, 1).plusDays(rnd.nextInt(2520).toLong)
            .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
        val w = out(rnd.nextInt(files))
        w.write(s"""{"mdr_report_key":"MDR${"%08d".format(key)}","report_number":"RN-$seq",""" +
          s""""date_received":"$date","event_type":"${EventTypes(rnd.nextInt(EventTypes.size))}",""" +
          s""""device_report_product_code":"P${"%02d".format(rnd.nextInt(40))}",""" +
          s""""device":[{"manufacturer_d_name":"${Manufacturers(rnd.nextInt(Manufacturers.size))}",""" +
          s""""brand_name":"Brand${rnd.nextInt(12)}"}],""" +
          s""""mdr_text":[{"text":"${Keywords(rnd.nextInt(Keywords.size))}"},""" +
          s"""{"text":"detail fragment $r"}]}""")
        w.newLine()
      }
    } finally out.foreach(_.close())
    Disk.bytesUnder(dir)
  }

  /** The search corpus vocabulary; queries draw their terms from it. */
  val Vocab: Seq[String] = Seq("pump", "valve", "leak", "fracture", "lead", "thrombus",
    "catheter", "stent", "battery", "alarm", "sensor", "display", "infusion",
    "occlusion", "pressure", "overheat", "shock", "implant", "wire", "coating",
    "migration", "failure", "error", "software", "reset", "noise", "crack",
    "seal", "tubing", "connector", "patient", "injury", "burn", "bleeding",
    "revision", "surgery", "delay", "replacement", "device", "report")

  val Dim = 64

  /** `n` embeddings (`vec_id`, 64-d float `embedding`) drawn around 64
    * seeded cluster centres, so an IVF index has real structure. */
  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def unit(h: Column): Column = (pmod(h, lit(2000001L)) - 1000000L) / 1e6
    val id = col("id")
    val centre = pmod(xxhash64(lit(seed), lit(11), id), lit(64L))
    spark.range(0, n, 1, 4).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), d =>
        (unit(xxhash64(lit(seed), lit(12), centre, d)) +
          unit(xxhash64(lit(seed), lit(13), id, d)) * 0.35).cast("float")).as("embedding"))
  }

  /** `n` documents (`doc_id`, `text` of 20-49 vocabulary words). */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val len = lane(seed, 21, id, 30) + 20
    spark.range(0, n, 1, 8).select(id.as("doc_id"),
      array_join(transform(sequence(lit(1L), len), i =>
        element_at(typedlit(Vocab),
          (pmod(xxhash64(lit(seed), lit(22), id, i), lit(Vocab.size.toLong)) + 1).cast("int"))),
        " ").as("text"))
  }
}
