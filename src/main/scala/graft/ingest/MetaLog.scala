package graft.ingest

import graft.codec.CanonicalJson
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Append-only metadata log with periodic checkpoints — the storage layer
  * behind [[TableStore]]'s metastate KV (watermark, manifests, per-file
  * index entries).
  *
  * Why: the previous single `metastate.json` was re-rendered in full on
  * every commit and re-parsed on every lookup — O(history) metadata work
  * per operation, the first thing to break at chain scale (~40M rounds ⇒
  * hundreds of MB of manifest+bloom text rewritten per micro-batch). This
  * is the same problem transactional table formats solve with a metadata
  * log, and the same shape solves it here:
  *
  *   - a COMMIT appends ONE record holding only the batch's delta —
  *     `set` (replace a key) and `app` (append lines to a key) ops — via
  *     write-tmp + atomic rename, so commit cost is O(batch), flat in
  *     history (measured at 6000 commits; PLANS.md, "Append-only
  *     metadata log");
  *   - every `checkpointInterval` records the full materialized KV map is
  *     written as `<v>.checkpoint.json` and the log tail before the
  *     PREVIOUS checkpoint is dropped, bounding both replay length and
  *     directory size;
  *   - a READER lists `_meta/` (O(interval) names), and replays
  *     newest-checkpoint + tail into an in-driver cache keyed by the log
  *     version — unchanged version ⇒ cache hit, a new tail ⇒ incremental
  *     replay of just the new records.
  *
  * Concurrency: appends reject an already-existing version file (atomic
  * move without REPLACE), so two writers cannot both commit version v —
  * the single-writer deployment contract is enforced, not assumed.
  * Readers never write (crash-safe to run read-only against a live
  * writer's directory); a reader in another JVM sees a commit as soon as
  * its listing shows the new version.
  *
  * Record format (canonical JSON, one object per file):
  * `{"app": {key: lines…}, "set": {key: value…}}` — `set` replaces the
  * key, `app` appends `"\n" + lines` (manifests and per-file index maps
  * are newline-joined, so appending a batch's files is string append).
  * A retired pre-log `metastate.json` in the parent dir is honored as the
  * version "-1" base state, making old store directories readable as-is.
  */
final class MetaLog(rootDir: String, val checkpointInterval: Int = 64) {
  import CanonicalJson._

  private val dir = Paths.get(rootDir, "_meta")
  private val legacyPath = Paths.get(rootDir, "metastate.json")

  // (version, materialized state); MinValue = never loaded
  @volatile private var cache: (Long, Map[String, String]) = (Long.MinValue, Map.empty)

  /** Current (version, state) — state is the cached materialized KV map. */
  def snapshot(): (Long, Map[String, String]) = synchronized { refresh(); cache }

  def state(): Map[String, String] = snapshot()._2
  def version: Long = snapshot()._1

  /** Append one commit record: `sets` replace keys, `appends` add lines
    * to newline-joined keys. One atomic rename; O(record) work. */
  def append(sets: Seq[(String, String)], appends: Seq[(String, String)] = Nil): Unit =
    synchronized {
      refresh()
      val next = if (cache._1 == Long.MinValue) 0L else cache._1 + 1
      Files.createDirectories(dir)
      // merge duplicate append keys BEFORE rendering: a JSON object keeps
      // one value per key, so two `app` ops on the same key in one record
      // would silently drop a line on disk while the in-memory fold kept
      // both — replayed state would diverge from the writer's cache
      // (caught by the model-check spec).
      val mergedAppends = appends.foldLeft(Vector.empty[(String, String)]) {
        case (acc, (k, v)) => acc.indexWhere(_._1 == k) match {
          case -1 => acc :+ (k -> v)
          case i => acc.updated(i, k -> (acc(i)._2 + "\n" + v))
        }
      }
      val json = render(JObj.of(
        "app" -> JObj(TreeMap.from(mergedAppends.map { case (k, v) => k -> (JStr(v): JVal) })),
        "set" -> JObj(TreeMap.from(sets.map { case (k, v) => k -> (JStr(v): JVal) }))))
      val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.writeString(tmp, json)
      // createLink, NOT move: ATOMIC_MOVE maps to rename(2), which
      // silently REPLACES an existing target on POSIX — a second writer
      // racing to version `next` would clobber a committed record. A
      // hard link to an existing name throws FileAlreadyExistsException,
      // which is the single-writer contract enforced loudly.
      try Files.createLink(dir.resolve(f"$next%020d.json"), tmp)
      finally Files.deleteIfExists(tmp)
      cache = (next, applyOps(cache._2, sets, appends))
      if (next > 0 && next % checkpointInterval == 0) writeCheckpoint(next)
    }

  /** The materialized KV state AS OF `version` — the time-travel read
    * path: nearest checkpoint at/below `version`, then tail replay up to
    * it. History is bounded by checkpoint retention (records at/below the
    * previous checkpoint are trimmed), so a version older than that
    * horizon throws rather than silently answering from the wrong state.
    * Physical data files referenced by an old state stay readable until
    * an explicit `vacuum` — the standard snapshot-vs-vacuum contract. */
  def stateAt(version: Long): Map[String, String] = {
    val (recs, cps) = listEntries()
    val head = (recs.keySet ++ cps.keySet).foldLeft(-1L)(math.max)
    if (version > head) throw new IllegalArgumentException(
      s"version $version is beyond the log head $head")
    // -1 is the ONE legacy pre-log version; any other negative is a
    // caller bug, not a request for the base state.
    if (version < -1) throw new IllegalArgumentException(
      s"version $version is not a log version (the legacy base is -1)")
    if (version == -1)
      return if (Files.exists(legacyPath)) parseObjFile(legacyPath) else Map.empty
    val baseV = cps.keySet.filter(_ <= version).maxOption
    var st: Map[String, String] = baseV match {
      case Some(v) => parseObjFile(cps(v))
      case None =>
        if (Files.exists(legacyPath)) parseObjFile(legacyPath)
        else Map.empty[String, String]
    }
    (baseV.getOrElse(-1L) + 1 to version).foreach { v =>
      recs.get(v) match {
        case Some(p) =>
          // A concurrent writer's checkpoint trim can delete the record
          // BETWEEN our listing and this read — same retention-horizon
          // condition as a missing listing, same error.
          st =
            try applyRecordFile(st, p)
            catch {
              case e: java.nio.file.NoSuchFileException =>
                throw new IllegalStateException(
                  s"version $version is older than the retention horizon " +
                    s"(record $v trimmed by checkpointing during the read)", e)
            }
        case None => throw new IllegalStateException(
          s"version $version is older than the retention horizon (record $v trimmed by checkpointing)")
      }
    }
    st
  }

  // ── internals ───────────────────────────────────────────────────────

  private def applyOps(st: Map[String, String], sets: Seq[(String, String)],
                       appends: Seq[(String, String)]): Map[String, String] = {
    val afterSet = sets.foldLeft(st) { case (s, (k, v)) => s.updated(k, v) }
    appends.foldLeft(afterSet) { case (s, (k, lines)) =>
      s.updated(k, s.get(k).filter(_.nonEmpty).map(_ + "\n" + lines).getOrElse(lines))
    }
  }

  /** (records, checkpoints) present on disk, keyed by version. */
  private def listEntries(): (Map[Long, Path], Map[Long, Path]) = {
    if (!Files.exists(dir)) return (Map.empty, Map.empty)
    val all = Using.resource(Files.list(dir))(_.iterator().asScala.toList)
    val recs = Map.newBuilder[Long, Path]
    val cps = Map.newBuilder[Long, Path]
    all.foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".checkpoint.json"))
        cps += n.stripSuffix(".checkpoint.json").toLong -> p
      else if (n.endsWith(".json") && !n.startsWith("."))
        recs += n.stripSuffix(".json").toLong -> p
    }
    (recs.result(), cps.result())
  }

  private def parseObjFile(p: Path): Map[String, String] =
    CanonicalJson.parse(Files.readString(p)).asObj.map { case (k, v) => k -> v.str }.toMap

  private def applyRecordFile(st: Map[String, String], p: Path): Map[String, String] = {
    val obj = CanonicalJson.parse(Files.readString(p)).asObj
    def ops(key: String): Seq[(String, String)] =
      obj.get(key).map(_.asObj.toSeq.map { case (k, v) => k -> v.str }).getOrElse(Nil)
    applyOps(st, ops("set"), ops("app"))
  }

  /** Bring `cache` to the on-disk head: no-op if the version matches,
    * incremental tail replay if only new records appeared, full
    * checkpoint + tail replay otherwise (first load / other-writer
    * checkpoint cleanup). */
  private def refresh(): Unit = {
    val (recs, cps) = listEntries()
    val cur = (recs.keySet ++ cps.keySet).foldLeft(-1L)(math.max)
    if (cur == -1L) {
      // empty log: base state is the retired single-file metastate if present
      if (cache._1 == Long.MinValue)
        cache = (Long.MinValue,
          if (Files.exists(legacyPath)) parseObjFile(legacyPath) else Map.empty)
      return
    }
    if (cache._1 == cur) return
    val warmTail = cache._1 != Long.MinValue && cache._1 < cur &&
      (cache._1 + 1 to cur).forall(recs.contains)
    if (warmTail) {
      var st = cache._2
      (cache._1 + 1 to cur).foreach(v => st = applyRecordFile(st, recs(v)))
      cache = (cur, st)
    } else {
      val baseV = cps.keySet.filter(_ <= cur).maxOption
      var st: Map[String, String] = baseV match {
        case Some(v) => parseObjFile(cps(v))
        case None =>
          if (Files.exists(legacyPath)) parseObjFile(legacyPath)
          else Map.empty[String, String]
      }
      (baseV.getOrElse(-1L) + 1 to cur).foreach { v =>
        recs.get(v) match {
          case Some(p) => st = applyRecordFile(st, p)
          case None => throw new IllegalStateException(
            s"metadata log gap: record $v missing below head $cur (corrupt _meta dir)")
        }
      }
      cache = (cur, st)
    }
  }

  /** Full-state checkpoint at version `v`, then retention: keep this and
    * the previous checkpoint (a grace window for readers mid-replay on
    * the old one), drop records at/below the previous and older
    * checkpoints. */
  private def writeCheckpoint(v: Long): Unit = {
    val json = render(JObj(TreeMap.from(cache._2.view.mapValues(JStr(_): JVal))))
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(f"$v%020d.checkpoint.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val (recs, cps) = listEntries()
    val sorted = cps.keySet.toSeq.sorted
    if (sorted.size >= 2) {
      val prev = sorted(sorted.size - 2)
      recs.filter(_._1 <= prev).values.foreach(Files.deleteIfExists)
      cps.filter(_._1 < prev).values.foreach(Files.deleteIfExists)
    }
  }
}
