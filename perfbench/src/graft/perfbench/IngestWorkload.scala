package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{Catalog, Permissions}
import graft.extract.{DeterministicExtractor, Extractor}
import graft.operators.PdfCodec
import graft.streaming.Ingest

/** Counts extraction work on its way to [[DeterministicExtractor]].
  * An object: in local mode the executor tasks run in this JVM, so the
  * deserialized closure resolves to this same instance. */
object CountingExtractor extends Extractor {
  val calls = new AtomicLong
  val docs = new AtomicLong
  val nanos = new AtomicLong
  override def discover(fileName: String, content: Array[Byte]): Map[String, String] =
    DeterministicExtractor.discover(fileName, content)
  override def extractAll(batch: Seq[(String, Array[Byte])],
                          keys: Seq[String]): Seq[Map[String, String]] = {
    val t0 = System.nanoTime()
    try DeterministicExtractor.extractAll(batch, keys)
    finally {
      nanos.addAndGet(System.nanoTime() - t0)
      calls.incrementAndGet(); docs.addAndGet(batch.size)
      ()
    }
  }
  def snapshot(): (Long, Long, Long) = (calls.get, docs.get, nanos.get)
}

/** `ingest`: the reference pipeline. Seeded PDFs land in waves across
  * tenants and folders; each wave is one `Ingest.start` AvailableNow
  * pass. Folders are trained from a master document and re-trained
  * mid-run with an added KPI. Reads are each folder's newest-first
  * top-100 plus `Permissions` access checks. Every typed row, every
  * inferred type, the archive moves and every top-100 result are
  * checked against the generator's own choices. */
final class IngestWorkload(spark: SparkSession, rec: Recorder, seed: Long,
                           root: String) extends Workload {
  import IngestWorkload._

  private val landing = s"$root/landing"
  private val wh = s"$root/warehouse"
  private val proc = s"$root/processed"
  private val cp = s"$root/checkpoint"
  private val rnd = new scala.util.Random(seed)

  /** What the generator chose for one document. */
  final case class Doc(uid: String, folder: String, file: String, wave: Int,
                       expected: Map[String, Any], op: Option[OpRecord])
  /** KPI name -> intended logical type, per folder, in training order. */
  private val kpis = scala.collection.mutable.Map.empty[(String, String), Vector[(String, String)]]
  private var catalog = Catalog.empty
  private val docs = ArrayBuffer.empty[Doc]
  private val rejected = ArrayBuffer.empty[String]
  private var wave = 0
  private var rounds = 0

  private val folders: Seq[(String, String)] =
    for (t <- 0 until Tenants; f <- 0 until FoldersPerTenant)
      yield (s"tenant-$t", s"folder-${t * FoldersPerTenant + f}")

  // ---- access-control fixture ------------------------------------------
  // The fixture's shape is the same for every seed, so every round
  // makes the same number of granted and denied checks: one user on
  // each folder's shared_with list, one share doc (which grants every
  // principal on its folder, as the reference's gate does).
  private val shared: Map[String, Seq[String]] =
    folders.map { case (_, f) => f -> Seq(s"user-${rnd.nextInt(Tenants * 2)}") }.toMap
  private val shareDocs: Set[(String, String)] = Set(folders(rnd.nextInt(folders.size)))
  /** Per folder: its owner, its shared user, another tenant's owner and
    * a stranger. */
  private def principals(u: String, f: String): Seq[String] =
    Seq(u, shared(f).head, folders.map(_._1).find(_ != u).get, "stranger")
  private lazy val foldersDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(folders.map { case (u, f) => Row(u, f, shared(f)) }: _*),
    StructType(Seq(StructField("owner_uid", StringType), StructField("folder_id", StringType),
      StructField("shared_with", ArrayType(StringType)))))
  private lazy val sharesDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(shareDocs.toSeq.map { case (u, f) => Row(u, f, s"$u@example.com") }: _*),
    StructType(Seq(StructField("owner_id", StringType), StructField("folder_id", StringType),
      StructField("email", StringType))))
  /** The reference's three-arm gate, evaluated here in plain Scala. */
  private def mayAccess(uid: String, u: String, f: String): Boolean =
    uid == u || shared(f).contains(uid) || shareDocs.contains((u, f))

  def dataDirs: Seq[String] = Seq(wh)

  def userBytes: Long = docs.iterator.map { d =>
    val sys = 8L + d.file.getBytes(UTF_8).length + 64L // uploaded_at, file_name, row_id
    sys + d.expected.valuesIterator.map {
      case null => 0L
      case s: String => s.getBytes(UTF_8).length.toLong
      case _ => 8L
    }.sum
  }.sum

  // ---- generation --------------------------------------------------------
  private def sample(t: String): String = t match {
    case "number" => "$1,000.00"
    case "date" => "2024-01-31"
    case "categorical" => "EMEA"
    case _ => "Quarterly operating summary for the board"
  }

  private def master(u: String, f: String): Array[Byte] =
    PdfCodec.encode(Seq(kpis((u, f)).map { case (k, t) => s"$k=${sample(t)}" }),
      compress = false)

  private def train(u: String, f: String): Unit = {
    val text = PdfCodec.extractText(master(u, f)).get.mkString("\n").getBytes(UTF_8)
    val t0 = System.nanoTime()
    val meta = Catalog.train(u, f, s"reports of $f", CountingExtractor.discover("master.pdf", text))
    rec.count("catalog.train_ms", (System.nanoTime() - t0) / 1e6, "train", always = true)
    val got = meta.kpis.map(k => k.name -> k.logicalType).toMap
    if (got != kpis((u, f)).toMap)
      rec.unattributedFailures += s"ingest: inferred types $got, intended ${kpis((u, f))}"
    catalog = catalog.add(meta)
  }

  private val dateFormats = Seq("yyyy-MM-dd", "yyyy/M/d", "M/d/yyyy", "MMMM d, yyyy",
    "MMM d, yyyy", "d MMM yyyy", "d MMMM yyyy", "d-MMM-yyyy", "yyyyMMdd", "d-MMM-yy")
  private val categories = Seq("EMEA", "APAC", "AMER", "LATAM", "Nordics", "Benelux")
  private val words = Seq("revenue", "margin", "growth", "outlook", "guidance", "steady",
    "quarter", "pipeline", "backlog", "region", "retail", "wholesale")

  /** (rendered text, expected typed value; null for a sentinel). */
  private def value(t: String): (String, Any) =
    if (rnd.nextInt(8) == 0) (if (rnd.nextBoolean()) "N/A" else "---", null)
    else t match {
      case "number" =>
        val c = rnd.nextInt(100000000).toLong
        val plain = f"${c / 100}%d.${c % 100}%02d"
        val grouped = String.format(Locale.US, "%,d.%02d",
          Long.box(c / 100), Long.box(c % 100))
        rnd.nextInt(4) match {
          case 0 => (plain, plain.toDouble)
          case 1 => ("$" + grouped, plain.toDouble)
          case 2 => (s"($grouped)", -plain.toDouble)
          case _ => (s"$plain%", plain.toDouble)
        }
      case "date" =>
        val d = LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(13000).toLong)
        val fmt = dateFormats(rnd.nextInt(dateFormats.size))
        val s = DateTimeFormatter.ofPattern(fmt, Locale.US).format(d)
        // Ordinal day suffix ("March 3rd, 2021") for a share of the long forms.
        if (fmt == "MMMM d, yyyy" && rnd.nextBoolean()) {
          val day = d.getDayOfMonth
          val suf = if (day % 10 == 1 && day != 11) "st" else if (day % 10 == 2 && day != 12) "nd"
            else if (day % 10 == 3 && day != 13) "rd" else "th"
          (s.replaceFirst(s" $day,", s" $day$suf,"), d)
        } else (s, d)
      case "categorical" =>
        val c = categories(rnd.nextInt(categories.size)); (c, c)
      case _ =>
        val s = Seq.fill(6 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")
        (s, s)
    }

  private def put(rel: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(landing, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Land one wave: `perFolder` PDFs per folder plus rejected files. */
  private def land(perFolder: Int, rejects: Int): Seq[Doc] = {
    val out = for ((u, f) <- folders; i <- 0 until perFolder) yield {
      val file = s"w$wave-$i.pdf"
      val vals = kpis((u, f)).map { case (k, t) => k -> value(t) }
      // Omitted keys extract as "N/A": a share of sentinels is absence.
      val lines = vals.collect { case (k, (s, v)) if v != null || rnd.nextBoolean() => s"$k=$s" }
      put(s"incoming/$u/$f/batch/$file",
        PdfCodec.encode(Seq(lines), compress = rnd.nextBoolean()))
      Doc(u, f, file, wave, vals.map { case (k, (_, v)) => k -> v }.toMap, None)
    }
    (0 until rejects).foreach { i =>
      val (u, f) = folders(rnd.nextInt(folders.size))
      val name = Seq("notes.txt", "export.csv", "scan.docx")(i % 3)
      val rel = s"incoming/$u/$f/batch/w$wave-$i-$name"
      put(rel, s"Revenue=$$${rnd.nextInt(1000)}\n".getBytes(UTF_8))
      rejected += rel
    }
    wave += 1
    out
  }

  private def ingest(): Unit =
    Ingest.start(spark, landing, wh, proc, cp, catalog, CountingExtractor).awaitTermination()

  // ---- ops -----------------------------------------------------------------
  private def opWave(): Unit = {
    val landed = rec.offOp(land(WavePerFolder, WaveRejects))
    val before = CountingExtractor.snapshot()
    val (r, _) = rec.op("wave", write = true)(ingest())
    val after = CountingExtractor.snapshot()
    rec.count("extract.calls", (after._1 - before._1).toDouble, "wave")
    rec.count("extract.docs", (after._2 - before._2).toDouble, "wave")
    rec.count("extract.ms", (after._3 - before._3) / 1e6, "wave")
    docs ++= landed.map(_.copy(op = r))
  }

  private def opTop100(u: String, f: String): Unit = {
    val meta = catalog.get(u, f).get
    val (r, res) = rec.op("top100_read", write = false) {
      Ingest.readTable(spark, wh, meta).orderBy(col("uploaded_at").desc).limit(100).collect()
    }
    res.foreach(rows => rec.offOp {
      val mine = docs.filter(d => d.uid == u && d.folder == f)
      val byFile = mine.map(d => d.file -> d.wave).toMap
      val ts = rows.map(_.getAs[java.sql.Timestamp]("uploaded_at").getTime)
      val waves = rows.flatMap(x => byFile.get(x.getAs[String]("file_name"))).toSeq.sorted.reverse
      val want = mine.map(_.wave).sorted.reverse.take(100).toSeq
      if (rows.length != math.min(100, mine.size))
        rec.fail(r, "top100_read", s"$f: ${rows.length} rows, want ${math.min(100, mine.size)}")
      else if (ts.toSeq != ts.toSeq.sorted.reverse)
        rec.fail(r, "top100_read", s"$f: uploaded_at not non-increasing")
      else if (waves != want)
        rec.fail(r, "top100_read", s"$f: result is not the newest ${want.size} rows")
    })
  }

  private def opAccess(uid: String, u: String, f: String): Unit = {
    val (r, res) = rec.op("access_check", write = false) {
      Permissions.canAccess(foldersDf, sharesDf, uid, f)
    }
    res.foreach { got =>
      if (got != mayAccess(uid, u, f)) rec.fail(r, "access_check", s"$uid on $f: got $got")
    }
  }

  private def reads(): Unit = {
    folders.foreach { case (u, f) => opTop100(u, f) }
    folders.foreach { case (u, f) => principals(u, f).foreach(opAccess(_, u, f)) }
  }

  /** Re-train one folder, round-robin, with one more KPI. */
  private def retrain(): Unit = {
    val (u, f) = folders(rounds % folders.size)
    val n = kpis((u, f)).size
    kpis((u, f)) = kpis((u, f)) :+ (s"Extra $n" -> ExtraTypes(n % ExtraTypes.size))
    train(u, f)
  }

  def load(): Unit = {
    folders.foreach { uf =>
      kpis(uf) = Vector("Revenue" -> "number", "Report Date" -> "date",
        "Region" -> "categorical", "Summary" -> "string")
      train(uf._1, uf._2)
    }
    docs ++= land(InitialPerFolder, WaveRejects)
    ingest()
  }

  /** One whole untimed round, so the timed phase starts past the
    * first, slowest wave. */
  def warmUp(): Unit = round()

  /** Ten rounds at least: 100 reads, so ten samples lie beyond the p90. */
  override def minRounds: Int = 10

  /** Every second round re-trains one folder first, so the schema
    * evolves while waves keep landing. */
  def round(): Unit = {
    if (rounds % 2 == 1) rec.offOp(retrain())
    opWave()
    reads()
    rounds += 1
  }

  /** Every row of every folder against the generator; archive moves. */
  def finalCheck(): Unit = {
    val byKey = docs.map(d => (d.uid, d.folder, d.file) -> d).toMap
    def failDoc(d: Doc, why: String): Unit = d.op match {
      case Some(r) => rec.fail(Some(r), "wave", why)
      case None => rec.unattributedFailures += s"ingest: $why"
    }
    folders.foreach { case (u, f) =>
      val meta = catalog.get(u, f).get
      val rows = Ingest.readTable(spark, wh, meta).collect()
      val ids = rows.map(_.getAs[String]("row_id"))
      if (ids.distinct.length != ids.length)
        rec.unattributedFailures += s"ingest: duplicate row_id in $f"
      val seen = rows.map { row =>
        val file = row.getAs[String]("file_name")
        byKey.get((u, f, file)) match {
          case None => rec.unattributedFailures += s"ingest: unexpected row $file in $f"
          case Some(d) => meta.kpis.foreach { k =>
            val want = d.expected.getOrElse(k.name, null)
            val cell = if (row.schema.fieldNames.contains(k.columnName))
              row.getAs[Any](k.columnName) else null
            val got = cell match {
              case x: java.sql.Date => x.toLocalDate
              case x => x
            }
            if (got != want) failDoc(d, s"$f/$file ${k.name}: got $got want $want")
          }
        }
        file
      }.toSet
      docs.filter(d => d.uid == u && d.folder == f && !seen(d.file))
        .foreach(d => failDoc(d, s"$f/${d.file}: no row"))
    }
    docs.foreach { d =>
      val rel = s"incoming/${d.uid}/${d.folder}/batch/${d.file}"
      if (!Files.exists(Paths.get(proc, rel)) || Files.exists(Paths.get(landing, rel)))
        failDoc(d, s"$rel not archived")
    }
    rejected.foreach { rel =>
      if (!Files.exists(Paths.get(landing, rel)) || Files.exists(Paths.get(proc, rel)))
        rec.unattributedFailures += s"ingest: rejected $rel left landing"
    }
  }

  def layerMetrics(): Map[String, Double] =
    Seq("extract.calls", "extract.docs", "extract.ms", "catalog.train_ms")
      .map(n => n -> rec.counterMedian(n)).toMap
}

object IngestWorkload {
  val Tenants = 2
  val FoldersPerTenant = 1
  /** Just under the top-100 limit: the first waves cross it. */
  val InitialPerFolder = 96
  val WavePerFolder = 2
  val WaveRejects = 3
  val ExtraTypes = Seq("number", "date", "categorical", "string")
}
