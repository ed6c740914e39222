package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The LIVE partition set of a batch_id-partitioned store, resolved
  * through a manifest: `segments` are compacted fold products (dirs
  * named `seg-<token>` under the store root), `coveredMax` is the
  * highest batch id folded into them. The live set is
  * `segments ∪ { batch_id=N : N > coveredMax }` — the hot write path
  * (one new batch partition per micro-batch) never touches the
  * manifest, only maintenance swaps it. */
final case class StoreManifest(gen: Long, coveredMax: Long,
                               segments: Seq[String])

/** Manifest indirection for the batch_id-partitioned stores (the
  * admission signature/semantic stores and the maintained-index codes
  * delta) — what makes compaction LIVE-safe.
  *
  * The problem it solves: the previous fold protocols either published
  * duplicate rows into a shared partition (admission store — verdict-
  * neutral there, fatal for codes) or swapped directories atomically
  * but left a window where the covered range was UNREADABLE, forcing
  * every maintenance op offline. With the manifest, a reader resolves
  * the partition list through [[livePaths]] and compaction becomes:
  * publish the fold product as a NEW `seg-<token>` dir (invisible —
  * readers never list for segments, they read only manifested names),
  * then publish manifest generation gen+1 naming it. No reader ever
  * sees a duplicate, a gap, or a half-swapped store.
  *
  * ATOMICITY: each manifest generation is its own CREATE-ONCE file
  * `_manifest.v<gen>` (content written to a dot temp, renamed to a
  * name that never pre-exists) — readers pick the highest generation
  * present, so the swap is atomic on every backend, including object
  * stores where rename-over-existing is not (the Bloom sketch
  * versioning pattern, not the pin's delete-then-rename).
  *
  * DEFERRED DELETION — the reader-latency contract: a fold never
  * deletes what it covered. Covered batch dirs, superseded segments,
  * and old manifest generations stay on disk until the NEXT
  * maintenance entry sweeps them ([[sweepStale]], under the
  * maintenance lock). A reader that resolved generation g therefore
  * has until the maintenance run AFTER the one that published g+1 to
  * finish its scan — one full maintenance cycle, against query
  * lifetimes of seconds. Storage overhead: at most one superseded
  * generation of fold products between maintenance runs. */
object StoreManifest {

  private val ManifestPrefix = "_manifest.v"
  private val BatchPart = "batch_id=(\\d+)".r

  /** Parse the current manifest out of a root listing (highest
    * generation wins); no manifest file → the legacy view (every
    * batch partition live), so pre-manifest stores read unchanged. */
  def currentFrom(fs: FileSystem, root: Path,
                  listing: Seq[FileStatus]): StoreManifest = {
    val versions = listing.filter(_.isFile)
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(ManifestPrefix).toLong).toOption)
    if (versions.isEmpty) StoreManifest(0L, -1L, Nil)
    else {
      val gen = versions.max
      val in = fs.open(new Path(root, s"$ManifestPrefix$gen"))
      val lines = try scala.io.Source.fromInputStream(in).getLines().toList
        finally in.close()
      require(lines.nonEmpty, s"corrupt store manifest v$gen under $root")
      val coveredMax = lines.head.trim.toLong
      val segs =
        if (lines.size < 2) Nil
        else lines(1).trim.split("\\s+").filter(_.nonEmpty).toSeq
      StoreManifest(gen, coveredMax, segs)
    }
  }

  /** Read the current manifest (one listStatus). */
  def current(fs: FileSystem, root: Path): StoreManifest =
    if (!fs.exists(root)) StoreManifest(0L, -1L, Nil)
    else currentFrom(fs, root, fs.listStatus(root).toSeq)

  /** Publish the next manifest generation: dot-temp write + rename to
    * `_manifest.v<gen>` — the destination name never pre-exists (gen
    * is fresh under the maintenance lock), so this is atomic
    * everywhere. Readers switch the instant the rename lands. */
  def publish(fs: FileSystem, root: Path, m: StoreManifest): Unit = {
    val tmp = new Path(root, s".manifest_tmp_${m.gen}")
    val os = fs.create(tmp, true)
    try os.write(s"${m.coveredMax}\n${m.segments.mkString(" ")}\n".getBytes("UTF-8"))
    finally os.close()
    val dst = new Path(root, s"$ManifestPrefix${m.gen}")
    require(fs.rename(tmp, dst), s"failed to publish store manifest $dst")
  }

  /** [[publish]]'s temp-and-rename for the other small durable files
    * (Bloom sketch versions, pins, the reindex journal): `write` fills
    * `tmp`, which is renamed onto `dst`. A crash mid-write leaves only
    * the temp, never a truncated `dst`; a failed rename fails loud.
    * Unlike a manifest generation, `dst` may legitimately pre-exist (a
    * replaced pin, a replayed sketch version): it is deleted first. */
  private[graft] def publishFile(fs: FileSystem, tmp: Path, dst: Path)
                                (write: java.io.OutputStream => Unit): Unit = {
    val os = fs.create(tmp, true)
    try write(os) finally os.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"failed to publish $dst (rename $tmp -> $dst)")
  }

  /** Publish a one-value text pin (`<pin>.tmp`, then rename). */
  private[graft] def publishPin(fs: FileSystem, pin: Path, value: String): Unit =
    publishFile(fs, pin.suffix(".tmp"), pin)(_.write(value.getBytes("UTF-8")))

  /** Read a pin back, whitespace-trimmed. */
  private[graft] def readPin(fs: FileSystem, pin: Path): String = {
    val in = fs.open(pin)
    try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
  }

  /** `batch_id=N` partitions holding committed data (≥1 data file —
    * a dir holding only an in-flight `_temporary` is not yet a
    * partition), as (id → path), from a listing. Data files are
    * `part-*` (Spark writes) OR any `*.parquet` — the PRE-manifest
    * admission fold published its products as `compact-<token>-N
    * .parquet` into a shared partition, and treating those dirs as
    * uncommitted would hide (and at the next entry SWEEP) a legacy
    * store's entire folded history. */
  /** Committed data file — `part-*` (Spark writes) OR any `*.parquet`
    * (the pre-manifest fold's `compact-<token>-N.parquet` layout).
    * The ONE definition every committed-data decision shares: the
    * reader ([[committedBatchDirs]]) and the model-pin laundering
    * gate (indexMaintenancePipeline's delta-holds-codes check) must
    * never disagree about whether a partition holds rows. */
  def isDataFile(name: String): Boolean =
    name.startsWith("part-") || name.endsWith(".parquet")

  def committedBatchDirs(fs: FileSystem,
                         listing: Seq[FileStatus]): Seq[(Long, Path)] =
    listing.filter(_.isDirectory).flatMap { s =>
      s.getPath.getName match {
        case BatchPart(id) => Some((id.toLong, s.getPath))
        case _ => None
      }
    }.filter { case (_, p) =>
      fs.listStatus(p).exists(f => f.isFile && isDataFile(f.getPath.getName))
    }.sortBy(_._1)

  /** Resolve the live partition list: manifested segments first, then
    * committed batch partitions with id > coveredMax (ascending),
    * minus `excludeBatchId` — the streaming pipelines pass their own
    * batch id here so a REPLAYED batch never sees its own persisted
    * slice (the pre-manifest `batch_id =!= batchId` filter expressed
    * at path level; a replayable batch is always the newest partition
    * and the fold always excludes the newest, so its rows can never
    * hide inside a segment). Empty result = empty store. */
  def livePaths(fs: FileSystem, rootDir: String,
                excludeBatchId: Option[Long] = None): Seq[String] = {
    val root = new Path(rootDir)
    if (!fs.exists(root)) return Nil
    resolve(fs, root, fs.listStatus(root).toSeq, excludeBatchId)._2
  }

  /** The hot-path combination the streaming pipelines use: ONE root
    * listing serves both the fresh-checkpoint watermark refusal
    * ([[requireBatchAboveFold]]'s check) and the live-path resolution
    * (a second listing per 10 s trigger is a billable object-store
    * round-trip for nothing). */
  def livePathsChecked(fs: FileSystem, rootDir: String,
                       batchId: Long): Seq[String] = {
    val root = new Path(rootDir)
    if (!fs.exists(root)) return Nil
    val listing = fs.listStatus(root).toSeq
    val (m, paths) = resolve(fs, root, listing, Some(batchId))
    requireAbove(m, rootDir, batchId)
    paths
  }

  private def resolve(fs: FileSystem, root: Path, listing: Seq[FileStatus],
                      excludeBatchId: Option[Long])
      : (StoreManifest, Seq[String]) = {
    val m = currentFrom(fs, root, listing)
    val segs = m.segments.map { s =>
      val p = new Path(root, s)
      require(fs.exists(p),
        s"manifested segment $p is missing: the manifest names a fold " +
          "product that is gone — the store was damaged out-of-band " +
          "(segments are only swept while a NEWER manifest covers them)")
      p
    }
    val live = committedBatchDirs(fs, listing)
      .filter { case (id, _) =>
        id > m.coveredMax && !excludeBatchId.contains(id)
      }
      .map(_._2)
    (m, (segs ++ live).map(_.toString))
  }

  /** Fail loud when a micro-batch id sits at or below the store's
    * folded watermark — the FRESH-CHECKPOINT hazard: a stream
    * restarted with a new checkpoint restarts batch ids at 0, and a
    * write into `batch_id=N ≤ coveredMax` would be reader-INVISIBLE
    * (the manifest hides folded ids) and silently swept at the next
    * maintenance entry. The streaming pipelines call this before every
    * store write; the legal restart paths (original checkpoint, or a
    * reindex that retires delta + checkpoint together) never trip it. */
  def requireBatchAboveFold(fs: FileSystem, rootDir: String,
                            batchId: Long): Unit =
    requireAbove(current(fs, new Path(rootDir)), rootDir, batchId)

  private def requireAbove(m: StoreManifest, rootDir: String,
                           batchId: Long): Unit =
    require(m.coveredMax < batchId,
      s"micro-batch $batchId is at or below $rootDir's folded watermark " +
        s"${m.coveredMax}: a FRESH checkpoint is writing into a store whose " +
        "history has been compacted — its rows would be reader-invisible " +
        "and swept at the next maintenance entry. Restore the original " +
        "checkpoint, or start a fresh store directory")

  /** Sweep everything a PREVIOUS manifest swap retired: batch
    * partitions at or below coveredMax, `seg-*` dirs the current
    * manifest does not name (covers crashed folds too — a segment
    * written but never manifested), manifest generations below the
    * current one, and stranded dot temps. MUST run only under the
    * store's maintenance lock, and only at maintenance ENTRY — that
    * ordering is what gives in-flight readers of the previous
    * generation a full maintenance cycle to finish. */
  def sweepStale(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val listing = fs.listStatus(root).toSeq
    val m = currentFrom(fs, root, listing)
    listing.foreach { s =>
      val n = s.getPath.getName
      val stale =
        if (s.isDirectory) n match {
          case BatchPart(id) => id.toLong <= m.coveredMax
          case _ => (n.startsWith("seg-") && !m.segments.contains(n)) ||
            n.startsWith(".manifest_tmp_") || n.startsWith(".compact_")
        }
        else if (n.startsWith(ManifestPrefix))
          scala.util.Try(n.stripPrefix(ManifestPrefix).toLong)
            .toOption.exists(_ < m.gen)
        else n.startsWith(".manifest_tmp_")
      if (stale) fs.delete(s.getPath, true)
    }
  }
}
