package graft.dedup

import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{Pq, Similarity}

/** Durable form of the semantic crawl index — what a deployment writes
  * BETWEEN increments so a restart (or another cluster) reconstructs
  * the exact classifier: the PQ model (codebooks as text — every value
  * via `Double.toString`, which round-trips bit-exactly through
  * `parseDouble`), the coarse quantizer in either shape (flat
  * centroids, or the two-level coarse + fine frames and their id
  * stride), the 8 B/vector code table, and the float vectors the exact
  * re-rank point-reads.
  *
  * The store is GENERATIONAL with APPEND-ONLY data fragments (r13 —
  * the r12 form rewrote the full codes+vectors trees every save, an
  * O(history) cost per increment at the exact cadence the store exists
  * for; reference analog: the incremental-update redesign rationale,
  * `changes.txt:211-215`):
  *
  * {{{
  *   CURRENT                        "gen=<k>"   (atomically replaced)
  *   gen=<k>/meta.txt               "flat" | "twolevel <stride>[ joinassign]"
  *   gen=<k>/model.txt              "m ksub subDim" + codebook rows
  *   gen=<k>/quantizer/centroids/   (flat)      cent_id, cent_vec
  *   gen=<k>/quantizer/coarse/      (twolevel)  cent_id, cent_vec
  *   gen=<k>/quantizer/fine/        (twolevel)  coarse_id, fine_id, cent_vec
  *   gen=<k>/manifest.txt           one live fragment name per line
  *                                  (written LAST — it seals the gen)
  *   codesroot/frag=<n>/            cent_bucket=<id>/... (partitioned!)
  *   vecroot/frag=<n>/              c_id, c_vec
  * }}}
  *
  * Fragments live under SHARED roots where every level is a key=value
  * partition dir, so [[load]]/[[prunedCodes]] read ALL live fragments
  * as ONE parquet scan (the manifest's dirs as roots + the shared root
  * as `basePath`) — read cost flat in fragment count, and partition
  * pruning on `cent_bucket` still applies across fragments.
  *
  * Fragments are immutable once written and live OUTSIDE generations:
  * [[save]] (a full save — the initial build, or an explicit
  * [[compact]]) writes everything as ONE new fragment, while
  * [[appendSave]] writes ONLY the increment's encoded rows as a new
  * fragment and seals a new generation whose manifest lists the old
  * fragments plus the new one — the quantizer/model tree (KBs–MBs,
  * [[graft.similarity.Similarity.maxCentroids]]-bounded) is byte-copied
  * forward, so an increment save costs I/O proportional to the
  * INCREMENT, not the history (SemStoreScaleMain measures the ladder).
  * [[load]] reads the manifest's fragments as one scan.
  *
  * Codes are written `partitionBy(cent_bucket)` (the bucket id
  * duplicated into a partition column so `cent_id` keeps its type in
  * the data files — `sim_ivfpq_pruned`'s layout): [[prunedCodes]] cuts
  * a search to its probed cells as a PARTITION filter the scan resolves
  * at planning time, reading only the probed buckets' files (PlanSpec
  * pins the pruned scan on a load()ed index) — the IVF 100 TB contract.
  *
  * Commit protocol (single writer at a time — the deployment's
  * between-increments cadence): a generation is COMMITTED iff `CURRENT`
  * names it; `CURRENT` is replaced by writing a temp file, hsync-ing it
  * (a power loss cannot surface a truncated pointer), and an ATOMIC
  * rename-with-overwrite through `FileContext` — readers see either the
  * old complete generation or the new complete one, never a mix. A
  * crash mid-save leaves an unsealed gen tree and/or an unreferenced
  * fragment; both are invisible to [[load]] (which reads only the
  * committed manifest) and swept by the next save — every `gen=*`
  * other than the committed one and every `frag=*` the committed
  * manifest does not list is debris by definition (crash-window pins in
  * ExtensionsSpec). This also makes the in-place grow cycle
  * `load(dir)` -> encode increment -> `appendSave(dir)` safe: the old
  * fragments stay untouched (they are still live in the new manifest),
  * and even a full [[save]] of a loaded index only deletes the old
  * fragments AFTER the flip — after a save, the RELOADED handle is the
  * live one (standard checkpoint semantics).
  *
  * ALL artifacts — including `CURRENT` and the text files — go through
  * the Hadoop `FileSystem` resolved from `dir`, so the index lands on
  * whatever filesystem the path names (the r12 form wrote the pointer
  * via `java.nio` — always the LOCAL fs — while frames went to the
  * Hadoop default fs: on any non-local deployment the index silently
  * split across two filesystems).
  *
  * Everything that matters for classification parity is either parquet
  * (binary-exact doubles/floats) or the exact text round-trip, so
  * `load(save(idx))` classifies bit-identically — pinned in
  * ExtensionsSpec for both quantizer shapes, including the full grown
  * in-place cycle and the append-only delta cycle.
  */
object SemanticIndexIO {

  private val CurrentFile = "CURRENT"

  /** Exclusive-writer lease (r14): the commit protocol is documented
    * single-writer, but nothing ENFORCED it — two simultaneous
    * appendSaves both read gen k, both write gen k+1's tree, and the
    * loser's fragment is swept while its manifest may have been read:
    * silent corruption instead of a loud refusal. Every writer
    * ([[save]], [[appendSave]], and [[compact]] through save) now takes
    * an exclusive-create lease file before reading the current
    * generation and releases it after its post-flip sweep; a second
    * writer refuses loudly with the holder named. A writer that DIED
    * holding the lease leaves it behind by design (a TTL auto-break
    * would re-open the exact two-writer window this closes): the
    * refusal message carries the holder's host/pid/timestamp and the
    * recovery step — confirm the writer is dead, then [[breakLease]].
    */
  private val LeaseFile = "_writer.lease"

  /** Held-lease handle (r15): `observedGen` is the store's committed
    * generation at acquisition time — a MONOTONIC FENCING TOKEN. The
    * documented [[breakLease]] recovery ("confirm the writer is dead,
    * then break") has an inherent resurrection race: a writer presumed
    * dead (GC pause, NFS stall) can resume after the break and commit
    * over the new writer's generation. Every commit-pointer flip now
    * re-reads CURRENT and REFUSES if the store advanced past the
    * flipping writer's token — whichever of the two writers flips
    * second fails loudly instead of silently splitting history; the
    * same check runs before the generation-tree writes to shrink the
    * scribble window. RESIDUAL (documented, not closed): a stale
    * writer that resumes INSIDE its tree/fragment writes can still
    * overwrite the winner's same-numbered artifacts before reaching a
    * fence — closing that needs per-writer-unique artifact names (a
    * layout change); on a deployment where breakLease is ever used
    * under doubt, prefer rebuilding the store from the last statuslog.
    */
  private final case class WriterLease(path: Path, observedGen: Long)

  private def fenceCheck(fs: FileSystem, d: Path, lease: WriterLease,
                         at: String): Unit = {
    val cur = currentGen(fs, d)
    if (cur != lease.observedGen)
      throw new IllegalStateException(
        s"STALE WRITER fenced at $at for $d: this writer's lease " +
          s"observed gen=${lease.observedGen} but the store is now at " +
          s"gen=$cur — the lease was broken while this writer was " +
          "presumed dead and another writer committed. This writer's " +
          "work is abandoned (its debris is swept by the next save); " +
          "re-load the store and redo the increment.")
  }

  private def acquireLease(fs: FileSystem, d: Path): WriterLease = {
    val p = new Path(d, LeaseFile)
    // The concurrency diagnosis is scoped to the CREATE call only: a
    // failure AFTER a successful exclusive create means WE own a
    // half-written lease (disk full / pipeline failure mid-write) —
    // that must clean itself up and rethrow as the real fault, never
    // read as "locked by another writer" whose named holder would be
    // our own pid (second r14 review pass).
    val out =
      try fs.create(p, false) // overwrite=false — atomic exclusive create
      catch {
        // Only an EXISTING lease is a concurrency diagnosis. Other
        // IOExceptions (permissions, transient FS) surface as
        // themselves — reporting them as "locked" steers the operator
        // to breakLease, which deletes nothing and masks the real
        // fault (r14 review). FileAlreadyExistsException is the
        // contract signal; some FS impls throw a generic IOException
        // for it, so an exists() re-check covers those.
        case e: java.io.IOException
            if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
              (try fs.exists(p) catch { case _: Throwable => false }) =>
          val holder =
            try readText(fs, p).trim catch { case _: Throwable => "(unreadable)" }
          throw new IllegalStateException(
            s"semantic index store at $d is locked by another writer " +
              s"[$holder] — concurrent writes would corrupt the store " +
              "(both would commit the same next generation). Wait for it " +
              "to finish; if it crashed, confirm it is dead and call " +
              s"SemanticIndexIO.breakLease on this dir (lease file: $p)", e)
      }
    try {
      // read under the held lease: no committed writer can advance the
      // pointer between the exclusive create above and this read
      val observedGen = currentGen(fs, d)
      val info =
        s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
          s"pid=${ProcessHandle.current().pid()} " +
          s"since=${java.time.Instant.now()} gen=$observedGen"
      try {
        out.write(info.getBytes("UTF-8"))
        try out.hsync()
        catch { case _: UnsupportedOperationException => out.hflush() }
      } finally out.close()
      WriterLease(p, observedGen)
    } catch { case e: Throwable =>
      // we created it; a half-written lease must not brick the store
      try out.close() catch { case _: Throwable => () }
      releaseLease(fs, p)
      throw e
    }
  }

  private def releaseLease(fs: FileSystem, p: Path): Unit =
    try fs.delete(p, false) catch { case _: Throwable => () }

  /** Remove a lease left by a writer that died mid-save. OPERATOR
    * action: only call after confirming the holder process (named in
    * the refusal message) is dead — breaking a LIVE writer's lease
    * re-opens the concurrent-commit corruption window the lease exists
    * to close. The dead writer's partial generation/fragment debris is
    * swept by the next save, as for any crash.
    */
  def breakLease(spark: SparkSession, dir: String): Unit = {
    val (fs, d) = fsOf(spark, dir)
    releaseLease(fs, new Path(d, LeaseFile))
  }

  // store layout version, bumped on any on-disk incompatibility (2 =
  // the shared-root one-scan fragment layout). Written by every save
  // and checked wherever a committed pointer is read, so a store from
  // a different layout generation refuses with its version named
  // instead of surfacing a raw path/schema error deep in a scan.
  private val FormatFile = "FORMAT"
  private val FormatVersion = "2"

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** All text artifacts are hsync-ed: the manifest a CURRENT flip makes
    * live must be durable BEFORE the flip is, or a power loss could
    * commit a generation whose manifest is truncated — the same
    * rationale as the pointer's own sync (r13 review finding #2).
    */
  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try {
      out.write(s.getBytes("UTF-8"))
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
  }

  /** The generation `CURRENT` points at; -1 when the dir holds no
    * committed index yet; an UNPARSABLE pointer fails loudly with a
    * repair hint (it cannot occur through this writer — the temp file
    * is hsync-ed before the atomic move — so it means outside
    * interference, and silently guessing a generation could resurrect
    * a stale index).
    */
  private def currentGen(fs: FileSystem, d: Path): Long = {
    val cur = new Path(d, CurrentFile)
    if (!fs.exists(cur)) -1L
    else {
      val fmtP = new Path(d, FormatFile)
      val fmt = if (fs.exists(fmtP)) readText(fs, fmtP).trim else "(none)"
      if (fmt != FormatVersion) throw new IllegalStateException(
        s"semantic index store at $d has layout version $fmt but this " +
          s"build reads version $FormatVersion — rebuild the index (or " +
          "compact it with the binary that wrote it, then rebuild)")
      val raw = readText(fs, cur).trim
      try {
        require(raw.startsWith("gen="))
        raw.stripPrefix("gen=").toLong
      } catch {
        case _: Exception =>
          val sealedHere = sealedGens(fs, d)
          throw new IllegalStateException(
            s"corrupt $CurrentFile under $d: '$raw' — repair by writing " +
              "'gen=<k>' for a sealed generation (sealed here: " +
              s"${sealedHere.mkString(", ")}) or by deleting the " +
              "directory and rebuilding the index")
      }
    }
  }

  /** gen numbers whose tree contains a manifest (the seal — written
    * last); used only for the repair hint. */
  private def sealedGens(fs: FileSystem, d: Path): Seq[Long] =
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
      .filter(g => fs.exists(new Path(d, s"gen=$g/manifest.txt")))
      .sorted

  private def manifest(fs: FileSystem, d: Path, gen: Long): Seq[String] =
    readText(fs, new Path(d, s"gen=$gen/manifest.txt"))
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  /** The BATCH generations already folded into store generation `gen`
    * (r16 replay contract) — one long per line in the gen tree,
    * carried forward by every [[appendSave]] and [[save]]/[[compact]].
    * Transactionally consistent with the commit by construction: the
    * file seals with the manifest, so a crashed append that wrote its
    * fragment but never flipped records nothing.
    */
  private val BatchGensFile = "batchgens.txt"

  private def readBatchGens(fs: FileSystem, d: Path, gen: Long): Seq[Long] =
    if (gen < 0) Seq.empty
    else {
      val p = new Path(d, s"gen=$gen/$BatchGensFile")
      if (!fs.exists(p)) Seq.empty
      else readText(fs, p).split("\n").map(_.trim).filter(_.nonEmpty)
        .flatMap(_.toLongOption).toSeq
    }

  /** Delete every `gen=*` other than `keepGen`, every `frag=*` not in
    * `keepFrags`, and stray pointer temp files — all debris by the
    * commit protocol. Runs at save START (clears crashed partials so
    * fragment ids don't collide with orphans) and after the flip
    * (clears the superseded generation and, on compaction, the folded
    * fragments).
    */
  private def sweep(fs: FileSystem, d: Path, keepGen: Long,
                    keepFrags: Set[String]): Unit = {
    fs.listStatus(d).foreach { st =>
      val name = st.getPath.getName
      val dead =
        (name.startsWith("gen=") &&
          name.stripPrefix("gen=").toLongOption.exists(_ != keepGen)) ||
        (name.startsWith("_current") && name.endsWith(".tmp"))
      if (dead) fs.delete(st.getPath, true)
    }
    Seq(CodesRoot, VecRoot).foreach { root =>
      val r = new Path(d, root)
      if (fs.exists(r)) fs.listStatus(r).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("frag=") && !keepFrags.contains(name))
          fs.delete(st.getPath, true)
      }
    }
  }

  private val CodesRoot = "codesroot"
  private val VecRoot = "vecroot"

  private def nextFragId(fs: FileSystem, d: Path): Long = {
    val existing = Seq(CodesRoot, VecRoot).flatMap { root =>
      val r = new Path(d, root)
      if (!fs.exists(r)) Seq.empty[Long]
      else fs.listStatus(r).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("frag="))
        .flatMap(_.stripPrefix("frag=").toLongOption)
    }
    if (existing.isEmpty) 0L else existing.max + 1L
  }

  /** Write one immutable data fragment: vectors plain, codes
    * partitioned by cent_bucket (duplicated from cent_id). Fragments
    * live under SHARED roots (`codesroot/frag=<n>/cent_bucket=<id>`,
    * `vecroot/frag=<n>`) so every key=value level is a partition dir:
    * a reader hands the live fragment dirs plus the root as `basePath`
    * to ONE parquet scan — flat in fragment count — instead of a union
    * of per-fragment scans (whose fixed per-scan cost SemFragScaleMain
    * measured growing ~linearly). `shared` is the plan fragment BOTH
    * writes contain (the vectors frame on a fresh full save — the
    * codes plan embeds it; the whole encoded increment on an append):
    * persisted for the duration so the common lineage runs once,
    * unless the CALLER already cached it (persist-then-unpersist here
    * would evict their cache).
    */
  private def writeFragment(dirStr: String, frag: String,
                            codes: DataFrame, vectors: DataFrame,
                            shared: DataFrame): Unit = {
    val callerCached =
      shared.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!callerCached) shared.persist()
    try {
      graft.Tuning.sizedForWrite(vectors.select(col("c_id"), col("c_vec")))
        .write.parquet(s"$dirStr/$VecRoot/$frag")
      codes
        .withColumn("cent_bucket", col("cent_id"))
        .repartition(col("cent_bucket"))
        .write.partitionBy("cent_bucket")
        .parquet(s"$dirStr/$CodesRoot/$frag")
    } finally if (!callerCached) shared.unpersist()
  }

  /** Write the generation tree for `gen` (model, meta, quantizer) and
    * SEAL it with the manifest — the manifest write is last, so a gen
    * without one is a crashed partial by construction.
    */
  private def writeGenTree(fs: FileSystem, d: Path, gen: Long,
                           model: Pq.PqModel,
                           quantizer: Similarity.CoarseQuantizer,
                           frags: Seq[String],
                           note: String): Unit = {
    val g = new Path(d, s"gen=$gen")
    fs.mkdirs(g)
    val modelTxt = new StringBuilder()
      .append(s"${model.m} ${model.ksub} ${model.subDim}\n")
    model.codebooks.foreach { row =>
      modelTxt.append(row.map(java.lang.Double.toString).mkString(" "))
        .append('\n')
    }
    writeText(fs, new Path(g, "model.txt"), modelTxt.toString)
    val gs = g.toString
    quantizer match {
      case Similarity.FlatQuantizer(centroids) =>
        writeText(fs, new Path(g, "meta.txt"), "flat")
        graft.Tuning.sizedForWrite(centroids)
          .write.parquet(s"$gs/quantizer/centroids")
      case Similarity.TwoLevelCoarse(tl) =>
        // the optional third token marks a PAST-LITERAL-BUDGET fine
        // level (r15): load must reconstruct literalOk=false so EVERY
        // consumer — assign, probe selection, residual/encode joins,
        // the drift probe — routes distributed (r16: literalCents
        // gates all of them; before that only assign routed, and the
        // first stored classify collected the whole fine table onto
        // the driver through centroidLit)
        writeText(fs, new Path(g, "meta.txt"),
          s"twolevel ${tl.fineK}" +
            (if (tl.literalOk) "" else " joinassign"))
        graft.Tuning.sizedForWrite(tl.coarse)
          .write.parquet(s"$gs/quantizer/coarse")
        graft.Tuning.sizedForWrite(tl.fine)
          .write.parquet(s"$gs/quantizer/fine")
    }
    if (note.nonEmpty) writeText(fs, new Path(g, "note.txt"), note)
    writeText(fs, new Path(g, "manifest.txt"), frags.mkString("\n"))
  }

  /** The COMMIT point: one atomic pointer replacement. The temp file is
    * hsync-ed (fsync on local fs; best-effort hflush where the stream
    * does not support sync) before the move, so a power loss cannot
    * surface an empty/truncated CURRENT.
    */
  private def flipCurrent(fs: FileSystem, d: Path, gen: Long,
                          lease: WriterLease): Unit = {
    // fencing token check (r15): refuse to move the commit pointer if
    // the store advanced past this writer's lease — see WriterLease
    fenceCheck(fs, d, lease, "CURRENT flip")
    val tmp = new Path(d, s"_current_g$gen.tmp")
    val out = fs.create(tmp, true)
    try {
      out.write(s"gen=$gen".getBytes("UTF-8"))
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
    val fc = FileContext.getFileContext(d.toUri,
      fs.getConf)
    fc.rename(tmp, new Path(d, CurrentFile), Options.Rename.OVERWRITE)
  }

  /** Full save: the complete index lands as ONE new fragment under a
    * new sealed generation — the initial-build entry point and the
    * compaction target. For increment cycles use [[appendSave]]: a full
    * save of a grown index re-reads and rewrites the entire history.
    */
  def save(index: Dedup.SemanticIndex, dir: String,
           note: String = ""): Unit = {
    val spark = index.vectors.sparkSession
    val (fs, d) = fsOf(spark, dir)
    fs.mkdirs(d)
    val lease = acquireLease(fs, d)
    try {
      // a full save is where a RETRAINED quantizer arrives — the drift
      // baseline describes the old training distribution, so reset it
      // (the next probed increment re-records it). compact() bypasses
      // this via saveLocked: folding fragments does not retrain.
      try fs.delete(new Path(d, DriftBaselineFile), false)
      catch { case _: Throwable => () }
      saveLocked(fs, d, index, note, lease)
    } finally releaseLease(fs, lease.path)
  }

  /** [[save]]'s body with the writer lease already HELD — shared by
    * save and [[compact]] (which must hold the lease across its
    * load-then-save, or an increment committed between the two would be
    * silently folded away by the post-flip sweep).
    */
  private def saveLocked(fs: FileSystem, d: Path,
                         index: Dedup.SemanticIndex,
                         note: String, lease: WriterLease): Unit = {
    {
      val oldGen = currentGen(fs, d)
      val oldFrags =
        if (oldGen >= 0) manifest(fs, d, oldGen).toSet else Set.empty[String]
      // crashed partials from an earlier save are swept before reuse
      sweep(fs, d, oldGen, oldFrags)
      val gen = oldGen + 1
      // fencing token check before the shared-name writes (r15): see
      // WriterLease — shrinks the resurrected-stale-writer window; the
      // authoritative refusal is flipCurrent's
      fenceCheck(fs, d, lease, "generation tree write")
      // An EMPTY index (zero code rows — an all-dup/empty-text history,
      // reachable through the streaming fold when the initial state is
      // empty, or a direct save of an empty build) must NOT write a
      // fragment: the empty partitionBy dir would brick every later
      // load with UNABLE_TO_INFER_SCHEMA. Commit a DATA-LESS generation
      // instead (empty manifest) — the same guard appendSave has for
      // empty increments; [[load]] reconstructs empty frames from the
      // schema sidecar written below.
      // On a FRESHLY BUILT index codes and vectors share the
      // full-history tokenize+embed lineage (the codes plan contains
      // the vectors plan as a fragment) — persisting the vectors side
      // BEFORE the emptiness probe lets the probe, then both fragment
      // writes, run that pass once: the cache manager substitutes the
      // cached fragment inside the codes plan (mirrors appendSave's
      // persist-before-probe; previously the probe ran un-cached and
      // re-paid the chain head — r14 review). On a loaded index both
      // sides are cheap parquet scans of the old fragments, which stay
      // on disk until the post-flip sweep.
      val sharedVec = index.vectors
      val callerCached =
        sharedVec.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      if (!callerCached) sharedVec.persist()
      val frags = try {
        if (index.codes.isEmpty) Seq.empty[String]
        else {
          val frag = s"frag=${nextFragId(fs, d)}"
          writeFragment(d.toString, frag, index.codes, index.vectors,
            shared = sharedVec)
          Seq(frag)
        }
      } finally if (!callerCached) sharedVec.unpersist()
      // schema sidecar: lets a data-less generation load back as EMPTY
      // frames of the exact row types instead of failing in a scan.
      // Written BEFORE writeGenTree: the manifest is the seal ("a gen
      // without one is a crashed partial by construction"), so every
      // other gen-tree artifact must exist by seal time — a sealed
      // schema-less generation would pass the repair hint's sealedGens
      // listing yet fail a data-less load (r14 review)
      fs.mkdirs(new Path(d, s"gen=$gen"))
      writeText(fs, new Path(d, s"gen=$gen/schema.txt"),
        index.codes.select(col("c_id"), col("cent_id"), col("c_code"),
          col("c_xsqn")).schema.json + "\n" +
          index.vectors.select(col("c_id"), col("c_vec")).schema.json)
      // carry the folded-batch ledger across full saves/compactions so
      // a replayed FOLD after a compact is still a no-op. The row-level
      // gen stamps do NOT survive a compact (load's code view drops
      // them; the merged fragment reads null): compact is a replay
      // BARRIER for classify-identity — same boundary as its
      // checkpoint semantics ("RELOAD any held handle"), documented on
      // Dedup.semanticStatusStored.
      val carriedGens = readBatchGens(fs, d, oldGen)
      if (carriedGens.nonEmpty)
        writeText(fs, new Path(d, s"gen=$gen/$BatchGensFile"),
          carriedGens.sorted.mkString("\n"))
      writeGenTree(fs, d, gen, index.model, index.quantizer, frags, note)
      writeText(fs, new Path(d, FormatFile), FormatVersion)
      flipCurrent(fs, d, gen, lease)
      // old generations and superseded fragments are dead after the flip
      sweep(fs, d, gen, frags.toSet)
    }
  }

  /** Append-only increment save: write ONLY `encoded` — an increment's
    * [[Dedup.semanticEncode]] rows `(c_id, cent_id, c_code, c_vec,
    * c_xsqn)` — as a new fragment, and seal a new generation whose
    * manifest is the old fragment list plus the new one (quantizer and
    * model byte-copied forward: they are trained once per index
    * lifetime — [[Dedup.semanticAppend]]'s contract). Cost is
    * proportional to the INCREMENT. The deployment cycle:
    * `load(dir)` -> classify -> `appendSave(dir,
    * semanticEncode(idx, kept, ...))` -> next increment loads the grown
    * index. Run [[compact]] at a slow cadence to bound fragment count.
    */
  /** `compactPastFragments` (r14, opt-in): when > 0 and the sealed
    * manifest exceeds it, [[compact]] runs immediately after the
    * commit — the streaming hook's fold-past-N cadence generalized to
    * the batch deployment loop, so a cycle that forgets to poll
    * [[fragmentCount]] still gets bounded fragment counts.
    * Classification is bit-identical across the fold (compact is
    * load+save of the same rows; spec-pinned). 0 (default) = off.
    *
    * CHECKPOINT SEMANTICS when the fold fires: the post-flip sweep
    * deletes the pre-fold fragment files, so any STILL-HELD index
    * handle from an earlier `load(dir)` (e.g. the one that encoded
    * this very increment) is stale — its lazy frames point at swept
    * paths and the next action on it throws FileNotFoundException.
    * Same contract as an explicit [[compact]], but firing inside
    * appendSave: after a call with this knob, RELOAD before touching
    * any previously-loaded handle.
    */
  /** `driftProbe` (r15, opt-in): probe the increment's quantizer fit
    * ([[graft.dedup.Dedup.semanticDriftEncoded]] over the already-
    * encoded rows — no re-embed; one broadcast join + a centroid-
    * bounded collect) before committing. The FIRST probed increment's
    * reading is recorded as the store's baseline (`_drift_baseline.txt`
    * at the store root — reset by a full [[save]], which is where a
    * retrained quantizer arrives); later probed increments compare
    * against it with the [[graft.dedup.Dedup.semanticDrift]] scaladoc's
    * thresholds (meanAssignCos < 90% of baseline, or topShare > 3x
    * baseline) and WARN loudly through the logger when crossed —
    * classification output is never altered (rebuild is an operator
    * decision; a single topical batch can spike topShare). The reading
    * also lands in the committed generation (`drift.txt`), surfaced by
    * [[stats]] as `drift`. Returns the report when probed and the
    * increment was non-empty.
    */
  final case class DriftReport(stats: Dedup.DriftStats,
                               baselineMeanCos: Double,
                               baselineTopShare: Double,
                               isBaseline: Boolean, drifted: Boolean)

  private val DriftMeanCosFactor = 0.9
  private val DriftTopShareFactor = 3.0
  private val DriftBaselineFile = "_drift_baseline.txt"

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.dedup.SemanticIndexIO")

  def appendSave(spark: SparkSession, dir: String,
                 encoded: DataFrame, note: String = "",
                 compactPastFragments: Int = 0,
                 driftProbe: Boolean = false,
                 batchGen: Option[Long] = None): Option[DriftReport] = {
    val (fs, d) = fsOf(spark, dir)
    val lease = acquireLease(fs, d)
    val (frags, report) = try {
      val gen0 = currentGen(fs, d)
      require(gen0 >= 0,
        s"appendSave grows a COMMITTED index but $dir holds none — " +
          "save() the initial build first")
      val oldFrags = manifest(fs, d, gen0)
      val oldBatchGens = readBatchGens(fs, d, gen0)
      if (batchGen.exists(oldBatchGens.contains)) {
        // REPLAY NO-OP (r16): this batch gen's fold already committed —
        // the crashed first attempt got through its flip — so the retry
        // must not write a second fragment of the same rows (duplicate
        // code rows would perturb later batches' ADC candidate sets).
        // The first commit is durable; there is nothing left to do.
        log.info(s"appendSave: batch gen ${batchGen.get} already folded " +
          s"into $dir (gen $gen0) — replayed fold is a no-op")
        (oldFrags, None)
      } else {
      sweep(fs, d, gen0, oldFrags.toSet)
      val gen = gen0 + 1
      // persist the increment here (not in writeFragment) so the
      // emptiness probe, the drift probe, and both fragment writes
      // share one run of the embed+encode chain
      val callerCached =
        encoded.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      if (!callerCached) encoded.persist()
      val (frags, report) = try {
        // An EMPTY increment (every doc a dup / empty-text — a
        // re-crawl-heavy stretch is normal) must NOT write a fragment: an
        // empty partitionBy write produces a dir with no parquet files,
        // and a committed manifest referencing it would brick every
        // subsequent load with UNABLE_TO_INFER_SCHEMA (spec-pinned). The
        // generation still commits — callers ride watermarks on `note`,
        // and skipping the commit would strand their already-archived
        // side outputs behind an unadvanced bound.
        if (encoded.isEmpty) (oldFrags, None)
        else {
          val rep =
            if (!driftProbe) None
            else Some(driftReportOf(spark, fs, d,
              new Path(d, s"gen=$gen0"), encoded))
          val frag = s"frag=${nextFragId(fs, d)}"
          // gen-stamp the code rows (r16 replay contract): a reader can
          // then bound its classify view to rows folded by strictly
          // EARLIER batch generations (`gen is null or gen < g` —
          // save()'d history rows read null), which is what makes a
          // replayed batch classify identically to its crashed first
          // attempt even though that attempt's fold already landed
          // (Dedup.semanticStatusStored's gen parameter; the exact-keys
          // store's DedupIndexIO contract, mirrored)
          val codes = batchGen.fold(encoded.drop("c_vec"))(g =>
            encoded.drop("c_vec").withColumn("gen", lit(g)))
          writeFragment(d.toString, frag,
            codes = codes,
            vectors = encoded.select(col("c_id"), col("c_vec")),
            shared = encoded)
          (oldFrags :+ frag, rep)
        }
      } finally if (!callerCached) encoded.unpersist()
      // fencing token check before the shared-name tree writes (r15):
      // shrinks (does not close — see WriterLease) the window where a
      // resurrected stale writer scribbles on the winner's gen tree
      fenceCheck(fs, d, lease, "generation tree write")
      // byte-copy the (small, centroid-capped) quantizer/model tree plus
      // the schema sidecar, then seal with the extended manifest
      val g0 = new Path(d, s"gen=$gen0")
      val g = new Path(d, s"gen=$gen")
      fs.mkdirs(g)
      Seq("meta.txt", "model.txt", "schema.txt", "quantizer").foreach {
        name =>
          val src = new Path(g0, name)
          if (fs.exists(src))
            FileUtil.copy(fs, src, fs, new Path(g, name),
              false, fs.getConf)
      }
      if (note.nonEmpty) writeText(fs, new Path(g, "note.txt"), note)
      report.foreach { r =>
        writeText(fs, new Path(g, "drift.txt"),
          s"${r.stats.rows} ${r.stats.meanAssignCos} " +
            s"${r.stats.topShare} ${r.drifted}")
      }
      // folded-batch ledger, sealed WITH the generation (an EMPTY
      // increment still records its batchGen: the batch was processed;
      // its retry must be a no-op, not a second watermark commit)
      val newBatchGens = (oldBatchGens ++ batchGen).distinct.sorted
      if (newBatchGens.nonEmpty)
        writeText(fs, new Path(g, BatchGensFile),
          newBatchGens.mkString("\n"))
      writeText(fs, new Path(g, "manifest.txt"), frags.mkString("\n"))
      writeText(fs, new Path(d, FormatFile), FormatVersion)
      flipCurrent(fs, d, gen, lease)
      sweep(fs, d, gen, frags.toSet)
      (frags, report)
      }
    } finally releaseLease(fs, lease.path)
    // opt-in auto-compact AFTER the lease release (compact re-acquires
    // through save): the increment's commit is already durable, so a
    // crash inside the fold loses nothing
    if (compactPastFragments > 0 && frags.size > compactPastFragments)
      compact(spark, dir)
    report
  }

  /** Drift probe + baseline bookkeeping for [[appendSave]] — runs with
    * the writer lease HELD (the baseline file is written at most once,
    * by whichever probed increment finds it absent).
    */
  private def driftReportOf(spark: SparkSession, fs: FileSystem, d: Path,
                            g0: Path, encoded: DataFrame): DriftReport = {
    val (cents, bcast) = readCentroids(spark, fs, g0)
    val stats = Dedup.semanticDriftEncoded(encoded, cents,
      broadcastCents = bcast)
    val basePath = new Path(d, DriftBaselineFile)
    // an unparsable baseline (crash mid-write — writeText is
    // create-in-place here, not flipCurrent's temp+rename) is treated
    // as ABSENT and re-recorded: the alternative was a MatchError on
    // every later probed appendSave, wedging the streaming fold's
    // commit path until someone hand-deleted the file
    val baseline: Option[(Double, Double)] =
      if (!fs.exists(basePath)) None
      else scala.util.Try {
        val Array(bCos, bShare) =
          readText(fs, basePath).trim.split("\\s+").take(2)
            .map(java.lang.Double.parseDouble)
        (bCos, bShare)
      }.toOption
    if (baseline.isEmpty) {
      if (stats.rows > 0)
        writeText(fs, basePath, s"${stats.meanAssignCos} ${stats.topShare}")
      DriftReport(stats, stats.meanAssignCos, stats.topShare,
        isBaseline = true, drifted = false)
    } else {
      val (bCos, bShare) = baseline.get
      val drifted = stats.rows > 0 &&
        (stats.meanAssignCos < DriftMeanCosFactor * bCos ||
          stats.topShare > DriftTopShareFactor * bShare)
      if (drifted)
        log.warn(
          s"QUANTIZER DRIFT at $d: increment meanAssignCos=" +
            f"${stats.meanAssignCos}%.4f (baseline $bCos%.4f, trigger " +
            f"<${DriftMeanCosFactor * bCos}%.4f) topShare=" +
            f"${stats.topShare}%.4f (baseline $bShare%.4f, trigger " +
            f">${DriftTopShareFactor * bShare}%.4f) over ${stats.rows} " +
            "rows — classify recall degrades silently past these " +
            "readings (SemDriftProbeMain, BASELINE.md r14); rebuild the " +
            "index via Dedup.semanticIndex unless this increment is a " +
            "known topical spike")
      DriftReport(stats, bCos, bShare, isBaseline = false, drifted)
    }
  }

  /** The committed generation's coarse-centroid table in its FLAT
    * (cent_id, cent_vec) form, for probes that need centroids without
    * paying a full [[load]].
    */
  private def readCentroids(spark: SparkSession, fs: FileSystem,
                            g: Path): (DataFrame, Boolean) = {
    val meta = readText(fs, new Path(g, "meta.txt")).trim.split(" ")
    meta(0) match {
      case "flat" =>
        (spark.read.parquet(s"$g/quantizer/centroids"), true)
      case "twolevel" =>
        val q = Similarity.TwoLevelCoarse(Similarity.TwoLevelQuantizer(
          spark.read.parquet(s"$g/quantizer/coarse"),
          spark.read.parquet(s"$g/quantizer/fine"),
          meta(1).toInt,
          literalOk = !meta.contains("joinassign")))
        (q.centroids, q.literalCents)
      case other =>
        sys.error(s"unknown quantizer kind '$other' in $g/meta.txt")
    }
  }

  /** Fold all fragments into one: load + full [[save]] (which reads the
    * old fragments, writes a single new one, flips, and sweeps the old
    * ones). Bounds [[load]]'s per-read fragment unions on a
    * long-running increment cycle.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val (fs, d) = fsOf(spark, dir)
    val lease = acquireLease(fs, d)
    try saveLocked(fs, d, load(spark, dir), note(spark, dir), lease)
    finally releaseLease(fs, lease.path)
  }

  /** True iff `dir` holds a committed index (a CURRENT pointer). */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, d) = fsOf(spark, dir)
    currentGen(fs, d) >= 0
  }

  /** The committed generation's NOTE — an opaque caller string carried
    * inside the atomically-committed generation tree (written before
    * the manifest seal), so a watermark and the data it describes
    * commit together. Empty when the generation carries none. The
    * streaming compaction hook stores its covered-batch bound here.
    */
  def note(spark: SparkSession, dir: String): String = {
    val (fs, d) = fsOf(spark, dir)
    val gen = currentGen(fs, d)
    require(gen >= 0, s"no committed semantic index under $dir")
    val p = new Path(d, s"gen=$gen/note.txt")
    if (fs.exists(p)) readText(fs, p) else ""
  }

  /** The committed covered-batch watermark the streaming hook rides on
    * [[note]], or -1 when `dir` holds no committed index. One rule for
    * every reader and the writer: a committed store whose note is not a
    * bare long was written outside the streaming hook — fail loudly
    * rather than guess coverage.
    */
  def coveredWatermark(spark: SparkSession, dir: String): Long =
    if (!exists(spark, dir)) -1L
    else note(spark, dir).toLongOption.getOrElse(sys.error(
      s"stored index at $dir carries no covered watermark " +
        "— was it written outside the streaming hook?"))

  /** Number of live fragments in the committed generation — the
    * compaction trigger a deployment polls.
    */
  def fragmentCount(spark: SparkSession, dir: String): Int = {
    val (fs, d) = fsOf(spark, dir)
    val gen = currentGen(fs, d)
    require(gen >= 0, s"no committed semantic index under $dir")
    manifest(fs, d, gen).size
  }

  /** One-call operational snapshot of a committed store — the
    * dashboard primitive a deployment loop polls instead of
    * hand-rolling listings ([[fragmentCount]] + per-fragment row
    * counts + the cell-occupancy shape + the watermark note in one
    * manifest-scoped scan of the code table's partition metadata +
    * counts; vectors are 1:1 with codes by construction).
    * `maxCellRows`/`meanCellRows` feed the skew read a rebuild
    * decision wants alongside [[graft.dedup.Dedup.semanticDrift]].
    */
  /** Last probed increment's drift reading, when the committed
    * generation carries one (appendSave with driftProbe=true; a
    * compact/rebuild generation carries none).
    */
  final case class DriftNote(rows: Long, meanAssignCos: Double,
                             topShare: Double, drifted: Boolean)

  final case class StoreStats(gen: Long, fragments: Int, rows: Long,
                              rowsPerFragment: Map[Long, Long],
                              cells: Long, maxCellRows: Long,
                              meanCellRows: Double, note: String,
                              drift: Option[DriftNote] = None)

  def stats(spark: SparkSession, dir: String): StoreStats = {
    val (fs, d) = fsOf(spark, dir)
    val gen = currentGen(fs, d)
    require(gen >= 0, s"no committed semantic index under $dir")
    val frags = manifest(fs, d, gen)
    val noteP = new Path(d, s"gen=$gen/note.txt")
    val noteS = if (fs.exists(noteP)) readText(fs, noteP) else ""
    val driftP = new Path(d, s"gen=$gen/drift.txt")
    val driftN =
      if (!fs.exists(driftP)) None
      else readText(fs, driftP).trim.split("\\s+") match {
        case Array(r, c, t, dr) => Some(DriftNote(r.toLong,
          java.lang.Double.parseDouble(c),
          java.lang.Double.parseDouble(t), dr.toBoolean))
        case _ => None
      }
    if (frags.isEmpty)
      return StoreStats(gen, 0, 0L, Map.empty, 0L, 0L, 0.0, noteS, driftN)
    // ONE scan, grouped on the two PARTITION columns (frag,
    // cent_bucket): the aggregate reads only partition values + row
    // counts, and the result is bounded by fragments x maxCentroids
    val perCell = spark.read.option("basePath", s"$d/$CodesRoot")
      .parquet(frags.map(f => s"$d/$CodesRoot/$f"): _*)
      // partition-column discovery may infer int or long for the
      // key=value levels depending on the values present — pin long
      .groupBy(col("frag").cast("long").as("frag"),
        col("cent_bucket").cast("long").as("cent_bucket")).count()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rowsPerFrag = perCell.groupBy(_._1)
      .map { case (f, rs) => f -> rs.map(_._3).sum }
    val cellRows = perCell.groupBy(_._2)
      .map { case (_, rs) => rs.map(_._3).sum }
    val total = rowsPerFrag.values.sum
    StoreStats(gen, frags.size, total, rowsPerFrag,
      cellRows.size.toLong, if (cellRows.isEmpty) 0L else cellRows.max,
      if (cellRows.isEmpty) 0.0 else total.toDouble / cellRows.size,
      noteS, driftN)
  }

  /** Loaded-handle memo: a generation tree is IMMUTABLE once sealed
    * (appendSave/compact always commit a NEW gen and the sweep only
    * deletes superseded ones), so the handle built for (dir, gen) can be
    * reused for every later load that resolves to the same generation —
    * repeat loads inside one increment cycle (classify + encode + fold
    * each load today) skip the quantizer parquet footer reads and frame
    * rebuilds. The CURRENT file's [[DedupIndexIO.storeStamp]] rides the
    * key so a store DELETED and re-created at the same path (gen counter
    * resets) can never serve a stale handle.
    */
  private val loadCache =
    new graft.SessionMemo[(SparkSession, String, Long, Long), Dedup.SemanticIndex](
      cap = 8)(_._1)

  def load(spark: SparkSession, dir: String): Dedup.SemanticIndex = {
    val (fs, d) = fsOf(spark, dir)
    val gen = currentGen(fs, d)
    require(gen >= 0, s"no committed semantic index under $dir " +
      s"(missing $CurrentFile — was save() ever completed here?)")
    loadCache.whenKeyed(currentStamp(fs, d).map((spark, d.toString, gen, _)))(
      loadGen(spark, fs, d, dir, gen))
  }

  private def currentStamp(fs: FileSystem, d: Path): Option[Long] =
    DedupIndexIO.storeStamp(fs, new Path(d, CurrentFile))

  private def loadGen(spark: SparkSession, fs: FileSystem, d: Path,
                      dir: String, gen: Long): Dedup.SemanticIndex = {
    val g = new Path(d, s"gen=$gen")
    val gs = g.toString
    val modelLines = readText(fs, new Path(g, "model.txt")).split("\n")
    val Array(m, ksub, subDim) = modelLines.head.trim.split(" ").map(_.toInt)
    val codebooks = modelLines.tail.filter(_.nonEmpty).map(
      _.trim.split(" ").map(java.lang.Double.parseDouble))
    require(codebooks.length == m * ksub &&
      codebooks.forall(_.length == subDim),
      s"corrupt model.txt under $gs: ${codebooks.length} rows for " +
        s"m=$m ksub=$ksub subDim=$subDim")
    val model = Pq.PqModel(m, ksub, subDim, codebooks)
    val meta = readText(fs, new Path(g, "meta.txt")).trim.split(" ")
    val quantizer = meta(0) match {
      case "flat" =>
        Similarity.FlatQuantizer(
          spark.read.parquet(s"$gs/quantizer/centroids"))
      case "twolevel" =>
        Similarity.TwoLevelCoarse(Similarity.TwoLevelQuantizer(
          spark.read.parquet(s"$gs/quantizer/coarse"),
          spark.read.parquet(s"$gs/quantizer/fine"),
          meta(1).toInt,
          literalOk = !meta.contains("joinassign")))
      case other =>
        throw new IllegalArgumentException(
          s"unknown quantizer kind '$other' in $gs/meta.txt")
    }
    val frags = manifest(fs, d, gen)
    // a DATA-LESS generation (empty save / empty-increment appends all
    // the way down) loads as EMPTY frames of the exact stored row types
    // — classification against it keeps everything, and the first
    // non-empty appendSave starts the fragment history
    if (frags.isEmpty) {
      val (codesSchema, vecSchema) = storedSchemas(fs, d, gen)
      Dedup.SemanticIndex(model, quantizer,
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), codesSchema),
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), vecSchema))
    } else {
      // ONE basePath scan over the live fragment dirs, not a union of N
      // per-fragment scans: every level under the shared root is a
      // key=value partition dir, so discovery unifies and the plan
      // carries a single FileScan whose cost is flat in fragment count
      // (SemFragScaleMain measured the union form growing ~linearly —
      // fixed per-scan overhead times N). Dead/unreferenced fragments
      // are never listed — only the manifest's dirs are roots.
      // Schemas come from the r14+ sidecar when present (skips the
      // footer-read inference pass; partition columns are appended by
      // discovery exactly as prunedCodes' genBound read relies on);
      // pre-r14 stores fall back to inference.
      val sidecar =
        if (fs.exists(new Path(g, "schema.txt")))
          Some(storedSchemas(fs, d, gen))
        else None
      def withSchema(r: org.apache.spark.sql.DataFrameReader,
                     s: Option[org.apache.spark.sql.types.StructType]) =
        s.fold(r)(r.schema)
      val codes = withSchema(
          spark.read.option("basePath", s"$d/$CodesRoot"), sidecar.map(_._1))
        .parquet(frags.map(f => s"$d/$CodesRoot/$f"): _*)
        .select(col("c_id"), col("cent_id"), col("c_code"), col("c_xsqn"))
      val vectors = withSchema(
          spark.read.option("basePath", s"$d/$VecRoot"), sidecar.map(_._2))
        .parquet(frags.map(f => s"$d/$VecRoot/$f"): _*)
        .select(col("c_id"), col("c_vec"))
      Dedup.SemanticIndex(model, quantizer, codes, vectors)
    }
  }

  /** The schema sidecar of generation `gen` as (codes, vectors) row
    * types — written by every r14+ save; only REQUIRED when the
    * generation is data-less (any healthy pre-r14 store has data
    * fragments and never reads it).
    */
  private def storedSchemas(fs: FileSystem, d: Path, gen: Long)
      : (org.apache.spark.sql.types.StructType,
         org.apache.spark.sql.types.StructType) = {
    val p = new Path(d, s"gen=$gen/schema.txt")
    require(fs.exists(p),
      s"generation $gen under $d is data-less but carries no schema " +
        "sidecar — was it written by a pre-r14 binary?")
    val lines = readText(fs, p).split("\n").map(_.trim).filter(_.nonEmpty)
    def parse(s: String) = org.apache.spark.sql.types.DataType.fromJson(s)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    (parse(lines(0)), parse(lines(1)))
  }

  /** The committed code table CUT to `cells` at the SCAN: the filter on
    * the cent_bucket partition column resolves to a partition (file)
    * prune at planning time, so a probe reads only its buckets' files —
    * the search-side payoff of the partitioned layout (PlanSpec pins
    * the pruned file count on a load()ed index). Same rows as filtering
    * the loaded codes on cent_id; swap into a loaded index via
    * `idx.copy(codes = prunedCodes(...))` when the probe cells are
    * known up front ([[Dedup.semanticProbeCells]]).
    */
  /** `genBound` (r16): bound the cut to code rows folded by strictly
    * EARLIER batch generations (`gen is null or gen < g` — rows from
    * full saves and untagged appends read null and always qualify).
    * The read then carries an explicit schema (the gen's sidecar plus
    * the `gen` column) so fragments written before any gen-stamped
    * append — whose files lack the column — read it as null instead of
    * poisoning schema inference across mixed fragments.
    */
  /** Base (unfiltered) code relation per (session, dir, gen, wantGen) —
    * the partition-discovery listing over the fragment dirs is identical
    * for every [[prunedCodes]] call against the same sealed generation,
    * so the relation is memoized alongside [[loadCache]] and each call
    * only adds its own cells filter (which still prunes at planning
    * time). Same immutability/stamp reasoning as loadCache.
    */
  private val codesBaseCache =
    new graft.SessionMemo[(SparkSession, String, Long, Long, Boolean), DataFrame](
      cap = 8)(_._1)

  def prunedCodes(spark: SparkSession, dir: String,
                  cells: Seq[Long],
                  genBound: Option[Long] = None): DataFrame = {
    val (fs, d) = fsOf(spark, dir)
    val gen = currentGen(fs, d)
    require(gen >= 0, s"no committed semantic index under $dir")
    val cut = codesBaseCache.whenKeyed(currentStamp(fs, d)
        .map((spark, d.toString, gen, _, genBound.isDefined))) {
      val frags = manifest(fs, d, gen)
      if (frags.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          storedSchemas(fs, d, gen)._1)
      else {
        val base = spark.read.option("basePath", s"$d/$CodesRoot")
        // the sidecar schema (when present) skips footer inference on
        // BOTH paths (r16); the genBound read additionally needs the
        // `gen` column declared so pre-stamp fragments read it as null
        val hasSidecar = fs.exists(new Path(d, s"gen=$gen/schema.txt"))
        val reader =
          if (genBound.isDefined) {
            val cs = storedSchemas(fs, d, gen)._1
            base.schema(
              if (cs.fieldNames.contains("gen")) cs
              else cs.add("gen", org.apache.spark.sql.types.LongType))
          } else if (hasSidecar) base.schema(storedSchemas(fs, d, gen)._1)
          else base
        reader.parquet(frags.map(f => s"$d/$CodesRoot/$f"): _*)
      }
    }
    if (cut.schema.fieldNames.contains("cent_bucket")) {
      val filtered = cut.filter(col("cent_bucket").isin(cells: _*))
      genBound.fold(filtered)(g =>
          filtered.filter(col("gen").isNull || col("gen") < g))
        .select(col("c_id"), col("cent_id"), col("c_code"),
          col("c_xsqn"))
    } else cut // data-less generation: empty frame of the stored schema
  }
}
