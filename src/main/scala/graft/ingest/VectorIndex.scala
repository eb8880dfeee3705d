package graft.ingest

import graft.codec.CanonicalJson
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Stored, versioned ANN index objects inside a [[TableStore]] — the
  * lifecycle a 100 TB deployment needs: train ONCE, publish, and serve
  * every later query/batch from the stored artifact instead of
  * re-collecting or re-training per call.
  *
  * Layout (same publish discipline as the append-table manifests):
  *   - payloads are IMMUTABLE parquet dirs under
  *     `<root>/_vecindex/<name>/<uuid>/` — `centroids/` (centroid_id,
  *     vec) and, when the PQ tier is trained, `codebooks/`
  *     (j, code, cv);
  *   - the CURRENT version is one metastate key `vecindex.<name>`
  *     holding canonical JSON (dir, nlist, m, dims) — published through
  *     the metadata log's atomic append, so an index flip is one commit
  *     and a reader either sees the old complete index or the new one,
  *     never a half-written dir;
  *   - because the pointer lives in the log, `loadAt(metaVersion)` reads
  *     the index AS OF any retained log version (snapshot consistency
  *     with the rest of the store — the same `stateAt` machinery as
  *     time-travel table reads), and table compaction/vacuum never
  *     touches `_vecindex` payloads.
  *
  * The coarse (two-level) index is NOT stored: it derives
  * deterministically from the centroid list in milliseconds
  * ([[Similarity.buildCoarseIndex]]), so storing it would only create a
  * second artifact to keep consistent.
  */
object VectorIndex {

  def metaKey(name: String): String = s"vecindex.$name"

  /** One loaded (driver-resident) index version: the centroid list, the
    * optional PQ codebooks, and the payload handle. Centroids and
    * codebooks are nlist×dims / m×k×(dims/m) floats — index metadata,
    * not data; the corpus itself never moves. */
  final case class Loaded(
      name: String,
      dir: String,
      centroids: Seq[(Long, Seq[Float])],
      codebooks: Option[Seq[Seq[Seq[Float]]]]) {
    def nlist: Int = centroids.size
    def dims: Int = centroids.headOption.map(_._2.length).getOrElse(0)
  }

  /** Train and publish version `name`: Lloyd's centroids over the corpus
    * (`iters = 0` keeps the deterministic first-`nlist`-rows seed — the
    * oracle-expressible form), plus PQ codebooks when `pqM > 0`.
    * Retraining under the same name publishes a NEW payload dir and
    * atomically flips the pointer; old dirs stay readable for
    * `loadAt` until explicitly removed. */
  def train(store: TableStore, name: String, df: DataFrame,
            idCol: String, vecCol: String, nlist: Int, iters: Int = 3,
            pqM: Int = 0, pqK: Int = 256): Loaded = {
    val centroids = Similarity.trainCentroids(df, idCol, vecCol, nlist, iters)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).cast("array<float>").as("vec"))
    val codebooks = Option.when(pqM > 0)(
      Similarity.trainPqCodebooks(df, vecCol, m = pqM, k = pqK))
    publish(store, name, centroids, codebooks)
  }

  /** Publish a caller-supplied centroid frame (and optional codebooks)
    * as version `name` — the path for externally-trained or
    * seed-row-derived indexes. */
  def publish(store: TableStore, name: String, centroids: DataFrame,
              codebooks: Option[Seq[Seq[Seq[Float]]]] = None): Loaded = {
    val dir = s"${store.root}/_vecindex/$name/${java.util.UUID.randomUUID().toString.take(8)}"
    // collect ONCE and write the parquet from the collected rows: the
    // centroid plan may be nondeterministic (freshly trained, no
    // checkpoint), and executing it twice (write + collect) could
    // publish an artifact that disagrees with the metadata
    val collected = centroids
      .select(col(centroids.columns.head).cast("long").as("centroid_id"),
        col(centroids.columns(1)).cast("array<float>").as("vec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)
    val spark = store.spark
    import spark.implicits._
    collected.toDF("centroid_id", "vec")
      .select(col("centroid_id"), col("vec").cast("array<float>").as("vec"))
      .write.mode("errorifexists").parquet(s"$dir/centroids")
    codebooks.foreach { cb =>
      val rows = for {
        (sub, j) <- cb.zipWithIndex
        (cv, code) <- sub.zipWithIndex
      } yield (j, code, cv)
      rows.toDF("j", "code", "cv")
        .select(col("j"), col("code"), col("cv").cast("array<float>").as("cv"))
        .write.mode("errorifexists").parquet(s"$dir/codebooks")
    }
    import CanonicalJson._
    val meta = render(JObj.of(
      "dir" -> JStr(dir),
      "nlist" -> JStr(collected.size.toString),
      "m" -> JStr(codebooks.map(_.size).getOrElse(0).toString),
      "dims" -> JStr(collected.headOption.map(_._2.length).getOrElse(0).toString)))
    store.putMetastate(metaKey(name) -> meta)
    Loaded(name, dir, collected, codebooks)
  }

  /** The CURRENT version of index `name`. */
  def load(store: TableStore, name: String): Loaded =
    loadFromMeta(store, name, store.metastate)

  /** Index `name` AS OF metadata-log version `metaVersion` — snapshot-
    * consistent with `readAsOf`/`createViewsAsOf` at the same version. */
  def loadAt(store: TableStore, name: String, metaVersion: Long): Loaded =
    loadFromMeta(store, name, store.metastateAt(metaVersion))

  private def loadFromMeta(store: TableStore, name: String,
                           meta: Map[String, String]): Loaded = {
    import CanonicalJson._
    val json = meta.getOrElse(metaKey(name),
      throw new IllegalArgumentException(s"no stored vector index '$name'"))
    val obj = parse(json).asObj
    val dir = obj("dir").str
    val m = obj("m").str.toInt
    val cents = store.spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)
    val cb = Option.when(m > 0) {
      val rows = store.spark.read.parquet(s"$dir/codebooks")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toSeq))
      (0 until m).map(j =>
        rows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq)
    }
    Loaded(name, dir, cents, cb)
  }

  /** Single-query IVF top-k through stored index `name` (current
    * version): no training, no per-call centroid collect from the
    * corpus — the call is the probed scan only. */
  def ivfTopK(store: TableStore, name: String,
              df: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, probes: Int = 1,
              scoreQuantized: Boolean = false,
              coarseBranches: Int = 0,
              usePq: Boolean = false): DataFrame = {
    val idx = load(store, name)
    Similarity.ivfTopK(df, idCol, vecCol,
      centroidFrame(store, idx, vecCol), "centroid_id", query, k, probes,
      scoreQuantized, coarseBranches,
      pqCodebooks = if (usePq) idx.codebooks else None)
  }

  /** Batched form through the stored index — one corpus scan per query
    * set, index artifacts straight from the store. */
  def ivfTopKBatch(store: TableStore, name: String,
                   df: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, queryIdCol: String,
                   k: Int, probes: Int = 1,
                   scoreQuantized: Boolean = false,
                   coarseBranches: Int = 0,
                   usePq: Boolean = false): DataFrame = {
    val idx = load(store, name)
    Similarity.ivfTopKBatch(df, idCol, vecCol,
      centroidFrame(store, idx, vecCol), "centroid_id", queries, queryIdCol, k, probes,
      scoreQuantized, coarseBranches,
      pqCodebooks = if (usePq) idx.codebooks else None)
  }

  /** Encode a corpus against stored index `name` and persist the result
    * as a CODE TABLE: (id, cid, codes) parquet under the index payload
    * dir — m bytes of PQ codes and a cell id per row instead of
    * dims×4 bytes of floats. This is the billion-vector SERVING layout:
    * encoding happens once at ingest/build time, and every later query
    * scans codes only ([[scanCodesTopKBatch]]); the float vectors never
    * need to be read again on the query path. The code table is tied to
    * the index version that encoded it (it lives in that version's
    * payload dir and vacuums with it). */
  def encodeCorpus(store: TableStore, name: String, df: DataFrame,
                   idCol: String, vecCol: String, label: String = "corpus"): String = {
    val idx = load(store, name)
    val cb = idx.codebooks.getOrElse(throw new IllegalArgumentException(
      s"index '$name' has no PQ codebooks — train with pqM > 0"))
    val dir = s"${idx.dir}/codes_$label"
    df.select(col(idCol).as("id"),
        Similarity.nearestCentroid(col(vecCol), idx.centroids, round4 = true).as("cid"),
        Similarity.pqEncode(col(vecCol), cb).as("codes"))
      .write.mode("errorifexists").parquet(dir)
    dir
  }

  /** Batched IVF-PQ top-k over a STORED code table: the corpus side is
    * the (id, cid, codes) parquet — no vector column is read at all.
    * Queries still carry float vectors (they compute probe lists and
    * ADC LUTs against the loaded index artifacts); scoring is m table
    * lookups per corpus row. Returns (query_id, id, adc_score, rank). */
  def scanCodesTopKBatch(store: TableStore, name: String,
                         queries: DataFrame, queryIdCol: String, vecCol: String,
                         k: Int, probes: Int = 1,
                         label: String = "corpus"): DataFrame = {
    val idx = load(store, name)
    val cb = idx.codebooks.getOrElse(throw new IllegalArgumentException(
      s"index '$name' has no PQ codebooks"))
    val codes = store.spark.read.parquet(s"${idx.dir}/codes_$label")
    val querySide = queries.select(col(queryIdCol).as("query_id"),
      graft.expressions.VectorExpressions.pqAdcLut(col(vecCol), cb, round4 = true).as("_lut"),
      explode(Similarity.topCentroids(col(vecCol), idx.centroids, probes, round4 = true))
        .as("_qcid"))
    Similarity.batchTopK(
      codes.join(broadcast(querySide), col("cid") === col("_qcid"))
        .select(col("query_id"), col("id").as("_aid"), col("codes"), col("_lut")),
      "id",
      graft.expressions.VectorExpressions.pqAdcScoreDyn(col("codes"), col("_lut")),
      "adc_score", k)
  }

  // ───────────────────────── incremental append ─────────────────────────
  // Daily embedding ingest is the same shape as the band index's
  // incremental form: new vectors arrive, the published
  // centroids/codebooks DON'T change, so only the DELTA needs encoding.
  // Encoded rows live as immutable parquet SEGMENT dirs under the index
  // version that encoded them (`<version>/segs_<label>/<uuid>`), and the
  // authoritative segment list is ONE metastate key
  // (`vecindex.<name>.segs.<label>`) — so an append is one atomic log
  // commit, a reader sees the old complete list or the new one (never a
  // half-registered segment), and `metastateAt` gives as-of reads of the
  // encoded corpus for free. Retraining starts a fresh list: segments
  // are meaningless under centroids other than the ones that encoded
  // them, so a list is bound to its version dir and readers check it.

  def metaKeySegs(name: String, label: String): String =
    s"vecindex.$name.segs.$label"

  // The registry value is NEWLINE-SEPARATED one-segment lines, written
  // through the metadata log's APPEND channel: each append adds its own
  // line, so two concurrent appenders can never lose each other's
  // segment to a read-modify-write race (a single set-valued list
  // would). compactSegments SETs the key back to one line per assignment
  // mode; an append racing a compact lands after the set and survives
  // alongside the merged segment — only compaction itself is
  // single-maintainer (the same discipline as table compaction).
  //
  // Each line records the segment's ASSIGNMENT MODE (`cb` = the
  // coarseBranches its rows were cell-assigned with, 0 = flat argmax):
  // two-level assignment with branches < nCoarse is approximate, so a
  // query must probe a segment with the same geometry that encoded it —
  // the registry is what makes mixed-mode segment unions consistent.
  private def renderSegLine(dir: String, seg: String, cb: Int): String = {
    import CanonicalJson._
    render(JObj.of("cb" -> JStr(cb.toString), "dir" -> JStr(dir), "seg" -> JStr(seg)))
  }

  private def parseSegLines(value: String): Seq[(String, String, Int)] = {
    import CanonicalJson._
    value.split('\n').toSeq.filter(_.nonEmpty).map { ln =>
      val o = parse(ln).asObj
      // pre-mode lines (no "cb") were flat-assigned
      (o("dir").str, o("seg").str, o.get("cb").map(_.str.toInt).getOrElse(0))
    }
  }

  /** (segment dir, assignment coarseBranches) currently registered for
    * (`name`, `label`) — empty when none exist yet or when the
    * registered lines belong to a superseded index version (`boundDir`
    * differs): appending after a retrain starts over, because old
    * segments are encoded under dead centroids. */
  private def registeredSegments(meta: Map[String, String], name: String,
                                 boundDir: String, label: String): Seq[(String, Int)] =
    meta.get(metaKeySegs(name, label)) match {
      case Some(v) => parseSegLines(v).filter(_._1 == boundDir).map(t => (t._2, t._3))
      case None => Nil
    }

  /** Encode ONLY `df` under the CURRENT published centroids (and PQ
    * codebooks when the index has them), write it as a new immutable
    * delta segment, and atomically register it — the incremental path
    * that makes daily ingest O(delta), not O(corpus): nothing existing
    * is re-read, re-encoded, or rewritten. Segment rows are
    * (id, cid, codes) on a PQ index, (id, cid, vec) otherwise (the
    * assignment expression is the same one the query path uses, so
    * stored cells are bit-identical to on-the-fly assignment).
    * Returns the new segment dir. */
  /** `maxSegments > 0` adds the compaction CADENCE the table layer has
    * at seal time: when an append would leave more than `maxSegments`
    * registered segments, the existing ones are first merged into one
    * ([[compactSegments]]) so segment count — and the query's file-open
    * cost — stays bounded under continuous daily appends, amortized one
    * rewrite per `maxSegments` appends. Superseded segment dirs remain
    * as-of readable until [[vacuum]].
    *
    * Concurrency: with `maxSegments = 0` (the default) any number of
    * appenders are safe — each contributes its own registry line.
    * `maxSegments > 0` is SINGLE-APPENDER: the embedded compaction's
    * SET discards lines appended between its registry read and its
    * write, so concurrent appenders must keep the default and run
    * [[compactSegments]] from one maintenance owner instead. */
  /** `coarseBranches > 0` escalates cell assignment to the two-level
    * coarse form (C = ⌈√nlist⌉ cells, searching that many branches) —
    * required once nlist reaches 10⁴–10⁵, where the flat per-row argmax
    * is the append bottleneck (900 rows/s at nlist=16384 vs 48k at 256;
    * PLANS.md, "Two-level IVF assignment"). The mode is RECORDED in the
    * segment's registry line,
    * and [[ivfSegmentsTopKBatch]] probes each segment with the same
    * geometry that encoded it, so mixed-mode unions stay consistent.
    * `coarseBranches = ⌈√nlist⌉` searches every branch — bit-identical
    * to flat assignment (spec-pinned). */
  def appendCorpus(store: TableStore, name: String, df: DataFrame,
                   idCol: String, vecCol: String,
                   label: String = "corpus",
                   maxSegments: Int = 0,
                   coarseBranches: Int = 0): String = {
    // fail BEFORE the parquet write: the registry commit would reject a
    // readOnly store anyway, but only after leaving an orphan segment dir
    if (store.readOnly) throw new IllegalStateException(
      s"appendCorpus on a readOnly TableStore (${store.root}) — this session declared itself query-only")
    val idx = load(store, name)
    if (maxSegments > 0 &&
        registeredSegments(store.metastate, name, idx.dir, label).size >= maxSegments)
      compactSegments(store, name, label)
    val seg = s"${idx.dir}/segs_$label/${java.util.UUID.randomUUID().toString.take(8)}"
    val v = col(vecCol).cast("array<float>")
    val cid = assignmentCol(v, idx, coarseBranches)
    val encoded = idx.codebooks match {
      case Some(cb) => df.select(col(idCol).cast("long").as("id"),
        cid.as("cid"), Similarity.pqEncode(v, cb).as("codes"))
      case None => df.select(col(idCol).cast("long").as("id"),
        cid.as("cid"), v.as("vec"))
    }
    encoded.write.mode("errorifexists").parquet(seg)
    store.commitMetastate(sets = Nil,
      appends = Seq(metaKeySegs(name, label) -> renderSegLine(idx.dir, seg, coarseBranches)))
    seg
  }

  /** Cell assignment under the recorded mode: flat argmax at cb = 0,
    * two-level (C = ⌈√nlist⌉, searching `cb` branches) otherwise. The
    * coarse index derives deterministically from the centroid list, so
    * append-time and probe-time geometry agree without storing it. */
  private def assignmentCol(v: org.apache.spark.sql.Column, idx: Loaded, cb: Int)
      : org.apache.spark.sql.Column =
    probeListCol(v, idx, cb, n = 1).getItem(0)

  private def probeListCol(v: org.apache.spark.sql.Column, idx: Loaded, cb: Int,
                           n: Int): org.apache.spark.sql.Column =
    if (cb > 0)
      Similarity.topCentroidsTwoLevel(v,
        Similarity.buildCoarseIndex(idx.centroids,
          nCoarse = math.ceil(math.sqrt(idx.nlist.toDouble)).toInt),
        n = n, branches = cb, round4 = true)
    else Similarity.topCentroids(v, idx.centroids, n, round4 = true)

  /** The encoded corpus of (`name`, `label`) — the union of all
    * registered segments, as one DataFrame. */
  def readEncoded(store: TableStore, name: String,
                  label: String = "corpus"): DataFrame =
    readEncodedFromMeta(store, store.metastate, name, label)

  /** As-of form: the segment union registered at `metaVersion` —
    * snapshot-consistent with `loadAt`/`readAsOf` at the same version. */
  def readEncodedAt(store: TableStore, name: String, metaVersion: Long,
                    label: String = "corpus"): DataFrame =
    readEncodedFromMeta(store, store.metastateAt(metaVersion), name, label)

  private def readEncodedFromMeta(store: TableStore, meta: Map[String, String],
                                  name: String, label: String): DataFrame = {
    val idx = loadFromMeta(store, name, meta)
    val segs = registeredSegments(meta, name, idx.dir, label)
    require(segs.nonEmpty,
      s"no segments registered for index '$name' label '$label' under its current version — appendCorpus first")
    store.spark.read.parquet(segs.map(_._1): _*)
  }

  /** Batched IVF top-k over the SEGMENT union: one scan of the encoded
    * segments for N queries, reading stored cells (and codes, on a PQ
    * index) instead of re-assigning the corpus — the serving path after
    * incremental appends. `metaVersion` pins an as-of snapshot (index
    * artifacts AND segment list from the same log version, so a
    * concurrent append/retrain can't tear the read). Returns
    * (query_id, id, cos_sim|adc_score, rank) like the other batch forms.
    *
    * Each segment is probed with the SAME assignment geometry that
    * encoded it (the registry records the mode): flat-assigned segments
    * get the flat probe list, two-level segments the two-level one with
    * their recorded branch count. A mixed-mode union produces one pair
    * frame per mode, unioned BEFORE the shared top-k heap — per query
    * the candidate set is the union of what each segment's own geometry
    * probes, and the heap sees every candidate once (segment ids are
    * disjoint across segments by construction). */
  def ivfSegmentsTopKBatch(store: TableStore, name: String,
                           queries: DataFrame, queryIdCol: String, vecCol: String,
                           k: Int, probes: Int = 1,
                           label: String = "corpus",
                           metaVersion: Option[Long] = None,
                           outIdCol: String = "id"): DataFrame = {
    val meta = metaVersion.map(store.metastateAt).getOrElse(store.metastate)
    val idx = loadFromMeta(store, name, meta)
    val regs = registeredSegments(meta, name, idx.dir, label)
    require(regs.nonEmpty,
      s"no segments registered for index '$name' label '$label' under its current version — appendCorpus first")
    val byMode: Seq[(Int, Seq[String])] =
      regs.groupBy(_._2).view.mapValues(_.map(_._1)).toSeq.sortBy(_._1)
    val spark = store.spark
    val pairFrames = byMode.map { case (cb, segDirs) =>
      val segs = spark.read.parquet(segDirs: _*)
      val probe = explode(probeListCol(col(vecCol), idx, cb, n = probes)).as("_qcid")
      idx.codebooks match {
        case Some(codebooks) =>
          val querySide = queries.select(col(queryIdCol).as("query_id"),
            graft.expressions.VectorExpressions.pqAdcLut(col(vecCol), codebooks, round4 = true).as("_qpay"),
            probe)
          segs.join(broadcast(querySide), col("cid") === col("_qcid"))
            .select(col("query_id"), col("id").as("_aid"),
              col("codes").as("_pay"), col("_qpay"))
        case None =>
          val querySide = queries.select(col(queryIdCol).as("query_id"),
            col(vecCol).cast("array<float>").as("_qpay"), probe)
          segs.join(broadcast(querySide), col("cid") === col("_qcid"))
            .select(col("query_id"), col("id").as("_aid"),
              col("vec").as("_pay"), col("_qpay"))
      }
    }
    val pairs = pairFrames.reduce(_.unionByName(_))
    idx.codebooks match {
      case Some(_) =>
        Similarity.batchTopK(pairs, outIdCol,
          graft.expressions.VectorExpressions.pqAdcScoreDyn(col("_pay"), col("_qpay")),
          "adc_score", k)
      case None =>
        Similarity.batchTopK(pairs, outIdCol,
          Similarity.cosine(col("_pay"), col("_qpay")), "cos_sim", k)
    }
  }

  /** Merge the registered segments of (`name`, `label`) into ONE new
    * segment PER ASSIGNMENT MODE and flip the list — the small-files
    * half of the append story (mirrors table seal-time compaction).
    * Modes never merge with each other: a two-level-assigned row under a
    * flat-mode registry line would be probed with the wrong geometry.
    * Superseded segment dirs stay readable via `readEncodedAt` until
    * [[vacuum]]. Returns the merged dirs (one per mode present). */
  def compactSegments(store: TableStore, name: String,
                      label: String = "corpus"): Seq[String] = {
    val idx = load(store, name)
    val regs = registeredSegments(store.metastate, name, idx.dir, label)
    require(regs.nonEmpty, s"nothing to compact for '$name' label '$label'")
    val mergedLines = regs.groupBy(_._2).toSeq.sortBy(_._1).map { case (cb, group) =>
      val merged = s"${idx.dir}/segs_$label/${java.util.UUID.randomUUID().toString.take(8)}"
      store.spark.read.parquet(group.map(_._1): _*)
        .write.mode("errorifexists").parquet(merged)
      (merged, cb)
    }
    store.putMetastate(metaKeySegs(name, label) ->
      mergedLines.map { case (dir, cb) => renderSegLine(idx.dir, dir, cb) }.mkString("\n"))
    mergedLines.map(_._1)
  }

  /** Remove payload dirs of index `name` that the CURRENT pointer no
    * longer references — the vacuum half of the snapshot contract
    * (mirrors table vacuum: old versions stay readable via `loadAt`
    * until this is called explicitly). Also sweeps UNREGISTERED segment
    * dirs inside the current version (superseded by [[compactSegments]]
    * or orphaned by a crashed append). Maintenance-window operation:
    * like [[compactSegments]] it is single-maintainer — an append's
    * segment dir exists briefly BEFORE its registry line commits, and a
    * concurrent vacuum would sweep it as an orphan. Returns the dirs
    * removed. */
  def vacuum(store: TableStore, name: String): Seq[String] = {
    // Compare NORMALIZED absolute paths, not raw strings: a store root
    // with a trailing slash or "./" writes "dir" into the metastate with
    // a double slash, while Files.list yields collapsed paths — a raw
    // string compare would then treat the LIVE payload as unreferenced
    // and delete it.
    def norm(s: String) = java.nio.file.Paths.get(s).toAbsolutePath.normalize()
    val current = store.metastate.get(metaKey(name)).map { json =>
      norm(CanonicalJson.parse(json).asObj("dir").str)
    }
    val base = java.nio.file.Paths.get(s"${store.root}/_vecindex/$name")
    if (!java.nio.file.Files.isDirectory(base)) return Nil
    val doomed = scala.util.Using.resource(java.nio.file.Files.list(base)) {
      _.iterator().asScala.toList
    }.filter(p => !current.contains(p.toAbsolutePath.normalize()))
    // inside the LIVE version: sweep segment dirs no current segment
    // list references (compacted-away or crash-orphaned appends). The
    // registered set spans all labels of this index.
    val registered: Set[java.nio.file.Path] = store.metastate.collect {
      case (k, v) if k.startsWith(s"vecindex.$name.segs.") =>
        parseSegLines(v).map(t => norm(t._2))
    }.flatten.toSet
    val doomedSegs = current.toList.flatMap { cd =>
      val segRoots = scala.util.Using.resource(java.nio.file.Files.list(cd)) {
        _.iterator().asScala.toList
      }.filter(p => p.getFileName.toString.startsWith("segs_"))
      segRoots.flatMap { sr =>
        scala.util.Using.resource(java.nio.file.Files.list(sr)) {
          _.iterator().asScala.toList
        }.filter(p => !registered.contains(p.toAbsolutePath.normalize()))
      }
    }
    (doomed ++ doomedSegs).foreach { p =>
      scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(java.nio.file.Files.delete(_))
      }
    }
    (doomed ++ doomedSegs).map(_.toString)
  }

  /** The loaded centroid list as a frame whose vector column carries the
    * CALLER's column name (the Similarity APIs read the same `vecCol`
    * from corpus and centroid frames). */
  private def centroidFrame(store: TableStore, idx: Loaded, vecCol: String): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    idx.centroids.toDF("centroid_id", "vec")
      .select(col("centroid_id"), col("vec").cast("array<float>").as(vecCol))
  }
}
