package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.ManifestCodec
import graft.sources.SnapshotTable.{BucketLayout, ColStat, DeletionVector, RowsCol, Snapshot,
  TableState}

/** Round trips of generated table states through the manifest codec,
  * in each of its three forms: an inline checkpoint, a segmented
  * checkpoint and a delta over a parent. Every field is generated both
  * empty and non-empty. No Spark session: the codec is pure. */
class ManifestCodecSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(11L)

  private def maybe[A](a: => A, empty: A): A = if (rnd.nextBoolean()) a else empty

  private def subset(xs: Seq[String]): Seq[String] = xs.filter(_ => rnd.nextBoolean())

  private var fileSeq = 0
  private def newFiles(n: Int): Seq[String] = (0 until n).map { _ =>
    fileSeq += 1
    f"data/b$fileSeq%05d/part-$fileSeq%05d.parquet"
  }

  private def fileStats(): Map[String, ColStat] = {
    val rows = rnd.nextInt(1000).toString
    Map(RowsCol -> ColStat("num", rows, rows)) ++
      maybe(Map("id" -> ColStat("num", "-3", "42")), Map.empty) ++
      maybe(Map("name" -> ColStat("str", "a \"quoted\" é", "z\\n")), Map.empty)
  }

  /** The per-file maps of `files`: every file sized and counted (the
    * only layout the reader accepts), the rest at random. */
  private def perFile(files: Seq[String]): TableState = TableState(
    files = files,
    stats = files.map(_ -> fileStats()).toMap,
    bloomRefs = subset(files).map(_ -> s"_blooms/${rnd.nextInt(9)}.json").toMap,
    sizes = files.map(_ -> rnd.nextInt(1 << 20).toLong).toMap,
    dvs = subset(files).map(_ -> vector("")).toMap)

  /** A deletion vector: its sidecar ref and a cardinality that is zero
    * or not at random. */
  private def vector(tag: String): DeletionVector =
    DeletionVector(s"_dv/$tag${rnd.nextInt(9)}.json",
      maybe(1L + rnd.nextInt(1 << 20), 0L))

  /** `s` with every whole-value field regenerated — empty or not — with
    * probability `p`. */
  private def wholeFields(s: TableState, p: Double): TableState = {
    def re[A](cur: A)(gen: => A): A = if (rnd.nextDouble() < p) gen else cur
    val live = s.files
    s.copy(
      schema = re(s.schema)(maybe(StructType(Seq(
        StructField("id", LongType), StructField("name", StringType))),
        new StructType())),
      bucket = re(s.bucket)(maybe(Some(BucketLayout(4, Seq("id"),
        maybe(Seq("name"), Nil))), None)),
      txns = re(s.txns)(maybe(Map("app" -> rnd.nextInt(50).toLong,
        "feed" -> 7L), Map.empty)),
      bloomCols = re(s.bloomCols)(subset(Seq("id", "name"))),
      constraints = re(s.constraints)(maybe(Map("nonneg" -> "id >= 0"),
        Map.empty)),
      colMap = re(s.colMap)(maybe(Map("label" -> "name"), Map.empty)),
      retired = re(s.retired)(maybe(Seq("zeta", "alpha"), Nil)),
      props = re(s.props)(maybe(Map("team" -> "core", "tier" -> "gold"),
        Map.empty)),
      defaults = re(s.defaults)(
        if (live.isEmpty) Map.empty
        else maybe(Map("d" -> ("7", (live.head +: subset(live)).toSet)),
          Map.empty)))
  }

  private def state(nFiles: Int): TableState =
    wholeFields(perFile(newFiles(nFiles).sorted), 1.0)

  private def encode(s: TableState, parent: Option[TableState],
                     full: Boolean, v: Long = 3L) =
    ManifestCodec.encode(Snapshot(v, 1700000000123L + v, "append", s),
      parent, full)

  private def decode(body: String, parent: Option[TableState],
                     segments: Seq[(String, String)] = Nil,
                     v: Long = 3L): Snapshot = {
    val segs = segments.toMap
    ManifestCodec.decode("/t", v, body, parent,
      nm => ManifestCodec.decodeSegment(segs(nm)))
  }

  /** The top-level keys of a manifest. */
  private def keys(body: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      .fieldNames.asScala.toSet
  }

  /** Which fields of `s` are empty, by name. */
  private def emptiness(s: TableState): Map[String, Boolean] = Map(
    "files" -> s.files.isEmpty, "stats" -> s.stats.isEmpty,
    "bloomRefs" -> s.bloomRefs.isEmpty, "sizes" -> s.sizes.isEmpty,
    "dvs" -> s.dvs.isEmpty, "schema" -> s.schema.isEmpty,
    "dv cardinalities" -> s.dvs.values.forall(_.card == 0L),
    "bucket" -> s.bucket.isEmpty, "txns" -> s.txns.isEmpty,
    "bloomCols" -> s.bloomCols.isEmpty,
    "constraints" -> s.constraints.isEmpty, "colMap" -> s.colMap.isEmpty,
    "retired" -> s.retired.isEmpty, "props" -> s.props.isEmpty,
    "defaults" -> s.defaults.isEmpty)

  private val seen = scala.collection.mutable.Map.empty[(String, Boolean), Int]
    .withDefaultValue(0)
  private def cover(s: TableState): Unit =
    emptiness(s).foreach(e => seen(e) += 1)

  test("an inline checkpoint decodes to the state it encodes") {
    (0 until 40).foreach { i =>
      val s = state(if (i % 5 == 0) 0 else rnd.nextInt(12))
      cover(s)
      val (body, segs) = encode(s, None, full = true)
      assert(segs.isEmpty)
      val d = decode(body, None)
      assert(d.state == s)
      assert((d.version, d.ts, d.op, d.checkpoint) ==
        ((3L, 1700000000126L, "append", true)))
    }
  }

  test("a segmented checkpoint decodes to the state it encodes") {
    (0 until 6).foreach { _ =>
      val s = state(ManifestCodec.SegmentInlineMax + 1 + rnd.nextInt(40))
      cover(s)
      val (body, segs) = encode(s, None, full = true)
      assert(segs.size == 1 && !keys(body)("files"))
      val d = decode(body, None, segs)
      assert(d.state.copy(segments = Nil) == s)
      assert(d.state.segments == Seq(segs.head._1 -> s.files))
      // the next checkpoint reuses the intact segment and writes only
      // the new files
      val more = perFile(newFiles(3))
      val next = s.copy(files = s.files ++ more.files,
        stats = s.stats ++ more.stats,
        bloomRefs = s.bloomRefs ++ more.bloomRefs,
        sizes = s.sizes ++ more.sizes, dvs = s.dvs ++ more.dvs)
      val (body2, segs2) = encode(next, Some(d.state), full = true, v = 4L)
      assert(segs2.size == 1)
      val d2 = decode(body2, None, segs ++ segs2, v = 4L)
      assert(d2.state.copy(segments = Nil) == next)
      assert(d2.state.segments.map(_._1) == Seq(segs.head._1, segs2.head._1))
      assert(d2.state.dvDirty.isEmpty)
    }
  }

  test("a delta decodes over its parent to the state it encodes") {
    (0 until 60).foreach { i =>
      val p = state(if (i % 7 == 0) 0 else rnd.nextInt(10))
      val removed = subset(p.files).toSet
      val adds = newFiles(if (i % 4 == 0) 0 else rnd.nextInt(4)).sorted
      val carried = p.files.filterNot(removed)
      val added = perFile(adds)
      // carried files keep their entries, except that a vector may be
      // added, replaced or dropped
      val dv = carried.flatMap { f =>
        rnd.nextInt(3) match {
          case 0 => p.dvs.get(f).map(f -> _)
          case 1 => Some(f -> vector("moved-"))
          case _ => None
        }
      }.toMap
      def keep[A](m: Map[String, A]) = m.filter { case (f, _) => !removed(f) }
      val next = wholeFields(p.copy(
        files = carried ++ adds,
        stats = keep(p.stats) ++ added.stats,
        bloomRefs = keep(p.bloomRefs) ++ added.bloomRefs,
        sizes = keep(p.sizes) ++ added.sizes,
        dvs = dv ++ added.dvs,
        defaults = p.defaults
          .map { case (c, (v, pre)) => c -> (v, pre -- removed) }
          .filter(_._2._2.nonEmpty)), 0.5)
      cover(next)
      val (body, segs) = encode(next, Some(p), full = false)
      assert(segs.isEmpty && !keys(body)("files"))
      val d = decode(body, Some(p))
      assert(d.state.copy(dvDirty = Set.empty) == next)
      assert(!d.checkpoint)
      // the carried files whose vector moved are marked dirty, no
      // other carried file is
      val moved = carried.filter(f => p.dvs.get(f) != next.dvs.get(f))
      assert(carried.filter(d.state.dvDirty) == moved)
    }
  }

  test("a delta writes an emptied whole value explicitly and omits an unchanged one") {
    val p = state(3).copy(bloomCols = Seq("id"),
      constraints = Map("nonneg" -> "id >= 0"))
    val (body, _) = encode(p.copy(bloomCols = Nil), Some(p), full = false)
    assert(body.contains("\"bloomcols\":[]"))
    assert(!keys(body)("constraints"))
    assert(decode(body, Some(p)).state.bloomCols.isEmpty)
  }

  test("every field was generated both empty and non-empty") {
    val missing = for {
      f <- emptiness(TableState()).keys.toSeq.sorted
      e <- Seq(true, false) if seen((f, e)) == 0
    } yield s"$f ${if (e) "empty" else "non-empty"}"
    assert(missing.isEmpty, missing.mkString(", "))
  }
}
