package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

import SnapshotTable.{BucketLayout, ColStat, DeletionVector, RowsCol, Snapshot, TableState}

/** The manifest wire form of [[SnapshotTable]], declared once: each
  * field's JSON name, sort order and delta rule sits in one field
  * table, which [[encode]] and [[decode]] both walk. A manifest is an
  * INLINE checkpoint (every field, the file list under `files`), a
  * SEGMENTED one (above [[SegmentInlineMax]] files: the file list and
  * per-file maps live in immutable segment files, each the per-file
  * subset of an inline checkpoint), or a DELTA against the parent
  * version. Two delta rules cover every field:
  *   - PER-FILE maps (`stats`, `bloomrefs`, `sizes`, `dvs`) follow
  *     the file list (`adds`/`removes`), and a delta carries only the
  *     entries that changed. Only a live file's deletion vector ever
  *     changes; a carried file whose vector is dropped is listed in
  *     `dvremoves`.
  *   - WHOLE-VALUE fields: absent means inherit, present replaces the
  *     parent's value, an explicit empty value included ([[Rule]] says
  *     which deltas write each one).
  * Each manifest lists the reader `features` its resolution depends
  * on; [[decode]] refuses unknown ones, and the layouts this engine no
  * longer writes. Bloom and deletion-vector sidecars have their own
  * small codecs. */
private[graft] object ManifestCodec {
  private val mapper = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance

  /** Checkpoints at or below this many files inline the complete
    * per-file maps (one self-contained JSON — simplest to read and
    * debug); above it they write SEGMENTED form. */
  private[graft] val SegmentInlineMax = 256

  /** Bound on a segmented checkpoint's segment-file count; crossing
    * it folds the smallest reusable segments into the commit's new
    * segment (log-structured merge, amortized O(batch·log)). */
  private val MaxSegments = 16

  /** Reader features this code understands: a manifest listing any
    * other would be misread (e.g. deleted rows resurrected by a reader
    * that skips deletion vectors), so it fails loudly instead — the
    * public Delta/Iceberg protocol-versioning idea as a feature list. */
  private val SupportedFeatures = Set(
    "dvbitmaps", "dvremoves", "constraints", "segments", "bucket", "colmap",
    "defaults")

  /** Reader features of retired layouts ([[RetiredLayouts]]): `dv`
    * guarded deletion vectors stored as parquet (file, row_index)
    * sidecars. */
  private val RetiredFeatures = Set("dv")

  /** Layouts earlier writers produced and this reader refuses: the
    * name of each, and how to spot it in a manifest. Files without a
    * recorded size and row count are refused per file in [[decode]]. */
  private val RetiredLayouts: Seq[(String, JsonNode => Boolean)] = Seq(
    ("inline Bloom bitsets", _.has("blooms")),
    ("parquet deletion-vector sidecars",
      n => n.has("dvrefs") || listAt(n, "features").exists(RetiredFeatures)),
    ("no commit timestamp", !_.has("ts")),
    ("no operation name", !_.has("op")),
    ("no recorded schema", !_.has("schema")))

  private final case class Codec[A](enc: A => JsonNode, dec: JsonNode => A)

  private val text = Codec[String](nodes.textNode, _.asText)
  private val long = Codec[Long](nodes.numberNode(_: Long), _.asLong)
  private val bytes = Codec[Array[Byte]](
    b => nodes.textNode(java.util.Base64.getEncoder.encodeToString(b)),
    n => java.util.Base64.getDecoder.decode(n.asText))

  /** A string list in the order given. */
  private val strs = Codec[Seq[String]](
    xs => { val a = nodes.arrayNode(); xs.foreach(a.add); a },
    _.asScala.map(_.asText).toSeq)

  /** A string list written sorted and without duplicates (file lists,
    * tracked columns). */
  private val sorted = strs.copy(enc = (xs: Seq[String]) =>
    strs.enc(xs.distinct.sorted))

  /** An object keyed by string, written in key order. */
  private def obj[A](c: Codec[A]) = Codec[Map[String, A]](
    m => {
      val o = nodes.objectNode()
      m.toSeq.sortBy(_._1).foreach { case (k, a) => o.set[JsonNode](k, c.enc(a)) }
      o
    },
    _.properties.asScala.iterator.map(e => e.getKey -> c.dec(e.getValue)).toMap)

  /** `[tag, min, max]`. */
  private val colStat = Codec[ColStat](
    s => strs.enc(Seq(s.tag, s.min, s.max)),
    n => ColStat(n.get(0).asText, n.get(1).asText, n.get(2).asText))

  private val schema = Codec[StructType](s => mapper.readTree(s.json),
    n => DataType.fromJson(n.toString).asInstanceOf[StructType])

  /** `{"n": buckets, "cols": [...], "sort": [...]}`, `sort` only when
    * the layout sorts; written only when there is a claim. */
  private val bucket = Codec[Option[BucketLayout]](
    b => {
      val o = nodes.objectNode()
      b.foreach { l =>
        o.put("n", l.numBuckets)
        o.set[JsonNode]("cols", strs.enc(l.cols))
        if (l.sortCols.nonEmpty) o.set[JsonNode]("sort", strs.enc(l.sortCols))
      }
      o
    },
    n => Some(BucketLayout(n.get("n").asInt, strs.dec(n.get("cols")),
      listAt(n, "sort"))))

  /** `[sidecar ref, deleted-row count]`. */
  private val vector = Codec[DeletionVector](
    d => { val a = nodes.arrayNode(); a.add(d.ref); a.add(d.card); a },
    n => DeletionVector(n.get(0).asText, n.get(1).asLong))

  /** `{"v": literal, "files": [pre-ADD file keys]}`. */
  private val default = Codec[(String, Set[String])](
    { case (v, pre) =>
      val o = nodes.objectNode()
      o.put("v", v)
      o.set[JsonNode]("files", sorted.enc(pre.toSeq))
      o
    },
    n => (n.get("v").asText, strs.dec(n.get("files")).toSet))

  private def listAt(n: JsonNode, key: String): Seq[String] =
    Option(n.get(key)).fold(Seq.empty[String])(strs.dec)

  /** Which manifests write a whole-value field. A checkpoint writes
    * every field that is not empty (`Always` fields even when empty);
    * a delta writes:
    *   - `Always`: every time;
    *   - `Repeat`: when non-empty, or when it changed (an emptied value
    *     is written explicitly);
    *   - `Changed`: only when it changed;
    *   - `Own`: when non-empty. An `Own` field is never inherited: a
    *     manifest without it reads as empty. */
  private sealed trait Rule
  private case object Always extends Rule
  private case object Repeat extends Rule
  private case object Changed extends Rule
  private case object Own extends Rule

  /** A whole-value field: its rule and empty value, how to read it
    * from and set it on a [[TableState]], and its JSON (`put` writes
    * it; `get` reads it, None when absent). */
  private final case class Whole[A](rule: Rule, empty: A,
                                    of: TableState => A,
                                    set: (TableState, A) => TableState,
                                    put: (ObjectNode, A) => Unit,
                                    get: JsonNode => Option[A]) {
    /** Write this field of `next` into `o` when its rule says so;
      * `base` is the parent a delta is written against, None for a
      * checkpoint. */
    def write(o: ObjectNode, base: Option[TableState], next: TableState): Unit = {
      val v = of(next)
      if (rule match {
        case Always => true
        case Repeat => v != empty || base.exists(of(_) != v)
        case Changed => base.fold(v != empty)(of(_) != v)
        case Own => v != empty
      }) put(o, v)
    }

    /** `s` with this field as manifest `n` records it; `s` already
      * holds the inherited value (a delta's parent's, a checkpoint's
      * empty one). */
    def read(n: JsonNode, s: TableState): TableState = get(n) match {
      case Some(a) => set(s, a)
      case None if rule == Own => set(s, empty)
      case None => s
    }
  }

  private def whole[A](key: String, rule: Rule, empty: A, c: Codec[A])(
      of: TableState => A)(set: (TableState, A) => TableState): Whole[A] =
    Whole[A](rule, empty, of, set, (o, a) => o.set[JsonNode](key, c.enc(a)),
      n => Option(n.get(key)).map(c.dec))

  private val wholeFields: Seq[Whole[_]] = Seq(
    whole("schema", Always, new StructType(), schema)(_.schema)(
      (s, a) => s.copy(schema = a)),
    // the bucketing claim is re-asserted by every commit that keeps it
    whole("bucket", Own, Option.empty[BucketLayout], bucket)(_.bucket)(
      (s, a) => s.copy(bucket = a)),
    // the full exactly-once ledger rides in every manifest (small)
    whole("txns", Always, Map.empty[String, Long], obj(long))(_.txns)(
      (s, a) => s.copy(txns = a)),
    whole("bloomcols", Repeat, Seq.empty[String], sorted)(_.bloomCols)(
      (s, a) => s.copy(bloomCols = a)),
    whole("constraints", Changed, Map.empty[String, String], obj(text))(
      _.constraints)((s, a) => s.copy(constraints = a)),
    // Column mapping: `colmap` (sparse logical→physical, written even
    // when empty — the rename-back-to-identity clear) and `retired`
    // (dropped physical names, when any) are one value.
    Whole[(Map[String, String], Seq[String])](Changed, (Map.empty, Nil),
      s => (s.colMap, s.retired),
      (s, a) => s.copy(colMap = a._1, retired = a._2),
      { case (o, (m, r)) =>
        o.set[JsonNode]("colmap", obj(text).enc(m))
        if (r.nonEmpty) o.set[JsonNode]("retired", strs.enc(r))
      },
      n => if (!n.has("colmap") && !n.has("retired")) None
        else Some((Option(n.get("colmap")).fold(Map.empty[String, String])(
          obj(text).dec), listAt(n, "retired")))),
    whole("props", Changed, Map.empty[String, String], obj(text))(_.props)(
      (s, a) => s.copy(props = a)),
    whole("defaults", Changed, Map.empty[String, (String, Set[String])],
      obj(default))(_.defaults)((s, a) => s.copy(defaults = a)))

  /** A per-file map: entries keyed by file, following the file list.
    * `removes` names the list a delta uses to drop a CARRIED file's
    * entry (only deletion vectors ever change on a live file). */
  private final case class PerFile[A](key: String, c: Codec[A],
                                      of: TableState => Map[String, A],
                                      set: (TableState, Map[String, A]) => TableState,
                                      removes: Option[String] = None) {
    def restrict(s: TableState, keep: Set[String]): TableState =
      set(s, of(s).filter { case (f, _) => keep(f) })

    def writeAll(o: ObjectNode, s: TableState): Unit =
      if (of(s).nonEmpty) o.set[JsonNode](key, obj(c).enc(of(s)))

    def readAll(n: JsonNode, s: TableState): TableState =
      set(s, Option(n.get(key)).fold(Map.empty[String, A])(obj(c).dec))

    /** The entries of `next` that differ from `p`'s, and the carried
      * files whose entry `next` dropped. */
    def writeDelta(o: ObjectNode, p: TableState, next: TableState): Unit = {
      val (mine, theirs) = (of(next), of(p))
      val changed = mine.filter { case (f, a) => !theirs.get(f).contains(a) }
      if (changed.nonEmpty) o.set[JsonNode](key, obj(c).enc(changed))
      removes.foreach { rk =>
        val live = next.files.toSet
        val gone = theirs.keys.filter(f => live(f) && !mine.contains(f))
        if (gone.nonEmpty) o.set[JsonNode](rk, sorted.enc(gone.toSeq))
      }
    }

    def readDelta(n: JsonNode, p: TableState, removed: Set[String],
                  s: TableState): TableState =
      set(s, (of(p) -- removed -- removes.fold(Seq.empty[String])(listAt(n, _))) ++
        Option(n.get(key)).fold(Map.empty[String, A])(obj(c).dec))

    def merge(s: TableState, parts: Seq[TableState]): TableState =
      set(s, parts.iterator.flatMap(of).toMap)
  }

  private val perFileFields: Seq[PerFile[_]] = Seq(
    PerFile[Map[String, ColStat]]("stats", obj(colStat), _.stats,
      (s, m) => s.copy(stats = m)),
    PerFile[String]("bloomrefs", text, _.bloomRefs,
      (s, m) => s.copy(bloomRefs = m)),
    PerFile[Long]("sizes", long, _.sizes, (s, m) => s.copy(sizes = m)),
    PerFile[DeletionVector]("dvs", vector, _.dvs, (s, m) => s.copy(dvs = m),
      removes = Some("dvremoves")))

  /** The manifest of `snap` — a checkpoint when `full`, else a delta
    * against `parent` (the committed state at the version before) —
    * and the new segment files a segmented checkpoint references
    * (name → body), which must land before the manifest does. A
    * segmented checkpoint reuses `parent`'s intact segments. Per-file
    * entries and column defaults are kept for live files only: a
    * committer may carry entries of files a retry no longer lands. */
  def encode(snap: Snapshot, parent: Option[TableState],
             full: Boolean): (String, Seq[(String, String)]) = {
    val next = liveOnly(snap.state)
    val o = nodes.objectNode()
    o.put("version", snap.version)
    o.put("ts", snap.ts)
    o.put("op", snap.op)
    val base = if (full) None else Some(parent.getOrElse(
      throw new IllegalStateException(
        s"manifest v${snap.version}: a delta needs the state at " +
          s"v${snap.version - 1}")))
    wholeFields.foreach(_.write(o, base, next))
    val segments = base match {
      case Some(p) =>
        val (was, live) = (p.files.toSet, next.files.toSet)
        o.set[JsonNode]("adds", sorted.enc(next.files.filterNot(was)))
        o.set[JsonNode]("removes", sorted.enc(p.files.filterNot(live)))
        perFileFields.foreach(_.writeDelta(o, p, next))
        Nil
      case None if next.files.size > SegmentInlineMax =>
        val segs = segmentsFor(snap.version, parent, next)
        o.set[JsonNode]("segments", strs.enc(segs.map(_._1)))
        segs.collect { case (nm, Some(body)) => nm -> body }
      case None =>
        putFiles(o, next)
        Nil
    }
    // Stamp exactly the reader features this manifest's resolution
    // depends on. "dvbitmaps" and "defaults" key off the EFFECTIVE state
    // (a segmented checkpoint's vectors live in its segments); an
    // explicit-empty column-mapping clear needs no guard.
    val feats =
      Seq("segments", "dvremoves", "constraints", "bucket").filter(o.has) ++
        Seq("dvbitmaps" -> (o.has("dvs") || full && next.dvs.nonEmpty),
          "colmap" -> (o.has("colmap") &&
            (next.colMap.nonEmpty || next.retired.nonEmpty)),
          "defaults" -> next.defaults.nonEmpty).collect { case (f, true) => f }
    if (feats.nonEmpty) o.set[JsonNode]("features", strs.enc(feats))
    (mapper.writeValueAsString(o), segments)
  }

  /** `s` with per-file entries and column defaults of live files only. */
  private def liveOnly(s: TableState): TableState = {
    val live = s.files.toSet
    perFileFields.foldLeft(s)((acc, f) => f.restrict(acc, live)).copy(
      defaults = s.defaults
        .map { case (c, (v, pre)) => c -> (v, pre.intersect(live)) }
        .filter(_._2._2.nonEmpty))
  }

  /** The file list (sorted) and per-file maps of `s`: the body of an
    * inline checkpoint's file section, and of a segment. */
  private def putFiles(o: ObjectNode, s: TableState): Unit = {
    o.set[JsonNode]("files", sorted.enc(s.files))
    perFileFields.foreach(_.writeAll(o, s))
  }

  /** A segmented checkpoint's segments, each with its body when it is
    * new. Segments of the previous checkpoint whose files all survive
    * (and carry no moved deletion vector) are referenced AS-IS; the
    * batch's files and the survivors of broken segments land in one
    * new segment, which also folds the smallest kept segments while
    * the count would exceed [[MaxSegments]]. A commit's manifest write
    * is therefore O(batch + churn), never O(table) — the public
    * Iceberg manifest-list design. */
  private def segmentsFor(v: Long, parent: Option[TableState],
                          next: TableState): Seq[(String, Option[String])] = {
    val live = next.files.toSet
    val dirty = parent.fold(Set.empty[String])(p => p.dvDirty ++ dvMoved(p, next))
    var keep = parent.fold(Seq.empty[(String, Seq[String])])(_.segments)
      .filter { case (_, fs) => fs.nonEmpty && fs.forall(f => live(f) && !dirty(f)) }
    val covered = keep.iterator.flatMap(_._2).toSet
    var fold = next.files.filterNot(covered)
    while (keep.size + 1 > MaxSegments) {
      val smallest = keep.minBy { case (nm, fs) => (fs.size, nm) }
      keep = keep.filterNot(_ == smallest)
      fold = fold ++ smallest._2
    }
    keep.map(_._1 -> None) ++ (if (fold.isEmpty) Nil else {
      val seg = nodes.objectNode()
      val part = fold.toSet
      putFiles(seg, perFileFields.foldLeft(next.copy(files = fold))(
        (acc, f) => f.restrict(acc, part)))
      Seq(s"seg-v$v-${java.util.UUID.randomUUID()}.json" ->
        Some(mapper.writeValueAsString(seg)))
    })
  }

  /** Files whose deletion vector differs between `p` and `s`: a
    * segment holding one is stale once a delta moves it. */
  private def dvMoved(p: TableState, s: TableState): Set[String] =
    (p.dvs.keySet ++ s.dvs.keySet).filter(f => p.dvs.get(f) != s.dvs.get(f))

  /** The version `v` under `dir` from its manifest text. A delta
    * resolves against `parent` (the state at v-1, asked for only
    * then); a segmented checkpoint loads its segments through
    * `segment`. Refuses unknown reader features and retired layouts. */
  def decode(dir: String, v: Long, body: String,
             parent: => Option[TableState],
             segment: String => TableState): Snapshot = {
    val n = mapper.readTree(body)
    val unknown = listAt(n, "features")
      .filterNot(f => SupportedFeatures(f) || RetiredFeatures(f))
    if (unknown.nonEmpty)
      throw new java.io.IOException(
        s"manifest v$v under $dir requires reader features this engine " +
          s"does not implement: ${unknown.mkString(", ")} — written by a " +
          "newer writer; upgrade before reading")
    RetiredLayouts.collectFirst { case (what, in) if in(n) => what }
      .foreach(refuse(dir, v, _))
    val (files, fresh) =
      if (n.has("segments")) {
        val segs = listAt(n, "segments").map(nm => nm -> segment(nm))
        val st = perFileFields.foldLeft(TableState(
          files = segs.flatMap(_._2.files),
          segments = segs.map { case (nm, s) => nm -> s.files }))(
          (acc, f) => f.merge(acc, segs.map(_._2)))
        (st, st.files)
      } else if (n.has("files")) {
        val st = decodeFiles(n)
        (st, st.files)
      } else {
        val p = parent.getOrElse(throw new java.io.IOException(
          s"manifest v$v under $dir is a delta without a parent version " +
            "— corrupt chain"))
        val adds = listAt(n, "adds")
        val removed = listAt(n, "removes").toSet
        val st = perFileFields.foldLeft(
          p.copy(files = p.files.filterNot(removed) ++ adds))(
          (acc, f) => f.readDelta(n, p, removed, acc))
        (st.copy(dvDirty = p.dvDirty ++ dvMoved(p, st)), adds)
      }
    val st = wholeFields.foldLeft(files)((s, f) => f.read(n, s))
    fresh.find(f => !st.sizes.contains(f) ||
        !st.stats.get(f).exists(_.contains(RowsCol)))
      .foreach(f => refuse(dir, v, s"file $f without a recorded size and row count"))
    Snapshot(v, n.get("ts").asLong, n.get("op").asText, st,
      checkpoint = n.has("files") || n.has("segments"))
  }

  /** A checkpoint segment: its file list and per-file maps. */
  def decodeSegment(body: String): TableState = decodeFiles(mapper.readTree(body))

  private def decodeFiles(n: JsonNode): TableState =
    perFileFields.foldLeft(TableState(files = listAt(n, "files")))(
      (acc, f) => f.readAll(n, acc))

  private def refuse(dir: String, v: Long, layout: String): Nothing =
    throw new java.io.IOException(
      s"manifest v$v under $dir is in a pre-current layout ($layout) " +
        "that this engine no longer reads — rewrite the table with an " +
        "earlier release first: compact it with clusterBy (every file " +
        "re-lands with its size and row count), then vacuum with " +
        "keepVersions = 1 (one current checkpoint remains)")

  private val bitsets = obj(obj(bytes))

  /** A Bloom sidecar: `{file: {column: base64 bitset}}`. */
  def encodeBlooms(blooms: Map[String, Map[String, Array[Byte]]]): String =
    mapper.writeValueAsString(bitsets.enc(blooms))

  def decodeBlooms(body: String): Map[String, Map[String, Array[Byte]]] =
    bitsets.dec(mapper.readTree(body))

  /** A deletion-vector sidecar: `{file: base64 portable RoaringBitmap}`,
    * each file's whole set of deleted row positions (encoding
    * run-compresses the writer's bitmaps in place first). */
  private val bitmaps = obj(Codec[org.roaringbitmap.RoaringBitmap](
    b => {
      b.runOptimize()
      val buf = java.nio.ByteBuffer.allocate(b.serializedSizeInBytes)
      b.serialize(buf)
      bytes.enc(buf.array)
    },
    n => {
      val b = new org.roaringbitmap.RoaringBitmap()
      b.deserialize(java.nio.ByteBuffer.wrap(bytes.dec(n)))
      b
    }))

  def encodeVectors(vectors: Map[String, org.roaringbitmap.RoaringBitmap]): String =
    mapper.writeValueAsString(bitmaps.enc(vectors))

  def decodeVectors(body: String): Map[String, org.roaringbitmap.RoaringBitmap] =
    bitmaps.dec(mapper.readTree(body))
}
