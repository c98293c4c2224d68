package graft.operators

import org.apache.spark.sql.SparkSession

/** The on-disk layout-marker protocol shared by every persisted index
  * in the engine ([[Postings]] `_graft_nbuckets`, [[Ivf]]
  * `_graft_centroids`, [[Pq]] `_graft_codebooks`): a layout's
  * physical organization (bucket function, coarse quantizer,
  * codebooks) is invisible in the data files themselves, so each
  * writer stamps an underscore-prefixed sidecar (parquet readers skip
  * `_` files) whose payload identifies the organization EXACTLY, and
  * every appender and probe fails fast on disagreement instead of
  * silently mis-bucketing, mis-pruning, or mis-ranking.
  *
  * Append-side state machine over (marker, data) — the crash-window
  * audit each caller's scaladoc documents:
  *   - marker matches → proceed (an empty-but-marked layout is a
  *     crashed same-config bootstrap and this is its retry);
  *   - marker mismatch over DATA → fail fast;
  *   - marker mismatch over an EMPTY path → a crashed bootstrap whose
  *     batch never landed: re-stamp for THIS config rather than
  *     poisoning every corrected retry;
  *   - no marker over DATA → refuse (a crashed overwrite rebuild
  *     clears the marker with the path; stamping here would certify
  *     rows whose organization is unknown);
  *   - no marker, no data → fresh bootstrap: stamp BEFORE the data so
  *     a mid-append crash leaves empty-but-guarded, never
  *     populated-unguarded.
  *
  * Probe-side: marker presence AND match are both required — absence
  * over data is the crashed-rebuild state, where any assumed
  * organization silently returns wrong results.
  */
private[graft] object Layout {

  /** Order-sensitive 64-bit FNV-1a over a stream of longs — the one
    * fingerprint every layout identity in the engine folds through
    * (centroid bits, codebook bits, staged-table dir names): exact
    * identity, not approximate equality. */
  def fnv1a64(xs: Iterator[Long]): Long = {
    var h = 0xcbf29ce484222325L
    while (xs.hasNext) {
      h ^= xs.next()
      h *= 0x100000001b3L
    }
    h
  }

  private def markerPath(path: String, file: String) =
    new org.apache.hadoop.fs.Path(path, file)

  private def writeTo(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, payload: String): Unit = {
    val out = fs.create(p, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
  }

  def writeMarker(spark: SparkSession, path: String, file: String,
      payload: String): Unit = {
    val p = markerPath(path, file)
    writeTo(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      payload)
  }

  /** [[writeMarker]] with an ATOMIC publish: payload goes to a hidden
    * temp name first and RENAMES into place, so a crash mid-write can
    * never leave a torn payload under the real name. For markers whose
    * payload is a LIST a recovery path acts on (e.g. the clustered
    * layouts' commit record), a torn list is silent corruption — the
    * recovery would process only the surviving prefix; single-token
    * markers don't need this (any prefix is used self-consistently).
    * The dest must not exist (records are created once per
    * operation); a leftover temp from a pre-rename crash is hidden
    * (underscore name) and swept by the caller's recovery. */
  def writeMarkerAtomic(spark: SparkSession, path: String, file: String,
      payload: String): Unit = {
    val p = markerPath(path, file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = markerPath(path,
      s"$file.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    writeTo(fs, tmp, payload)
    require(fs.rename(tmp, p),
      s"writeMarkerAtomic: rename $tmp -> $p failed (marker already " +
        "present, or a filesystem error)")
  }

  def readMarker(spark: SparkSession, path: String,
      file: String): Option[String] = {
    val p = markerPath(path, file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** The append-side state machine above. `mismatch(stored)` renders
    * the fail-fast message for a payload disagreement over data;
    * `hazard` names what a mismatched organization would silently
    * break (rides the refuse-unmarked-data message).
    *
    * Bootstrap stamps are RACE-SAFE: two concurrent bootstrappers with
    * different payloads on an empty path both used to pass the
    * read-check and the last [[writeMarker]] won — leaving a populated
    * layout whose marker certified only one writer's rows. The stamp
    * now goes through create(overwrite=false) and a re-read verify
    * ([[stampExclusive]]), so exactly one writer proceeds and the
    * loser fails fast instead of appending under the winner's
    * certificate. */
  def bootstrapOrGuard(spark: SparkSession, path: String, file: String,
      payload: String, what: String,
      mismatch: String => String): Unit =
    readMarker(spark, path, file) match {
      // fast path, lease-free: a matching marker is the steady state of
      // every append — only the MUTATING arms below serialize
      case Some(stored) if stored == payload.trim => ()
      case _ => withWriterLease(spark, path, what) {
        bootstrapUnderLease(spark, path, file, payload, what, mismatch)
      }
    }

  /** The mutating arms of the state machine, run under the writer
    * lease (which re-reads the marker first: the racer that beat us to
    * the lease may have already stamped). The lease closes the one
    * window [[stampExclusive]] alone cannot: two concurrent CORRECTED
    * RETRIES of a crashed bootstrap with different payloads, whose
    * delete-then-create arms can interleave (B's delete removing A's
    * fresh stamp after A's verify passed). Under the lease exactly one
    * writer runs this block at a time; the loser THROWS loudly
    * instead of mixing organizations. */
  private def bootstrapUnderLease(spark: SparkSession, path: String,
      file: String, payload: String, what: String,
      mismatch: String => String): Unit = {
    // "populated" keys on ROWS, not files: Spark writes a schema-only
    // 0-ROW part file even when an empty frame bootstraps a layout,
    // and keying the refuse arms on hasDataFiles would poison every
    // corrected retry of a bootstrap nothing landed under. The row
    // probe short-circuits at the first row (isEmpty = limit 1) and
    // only runs on the RARE mismatch/markerless arms, never the
    // steady-state append path (the marker-match fast path is in the
    // caller). A rowless-but-filed layout has its stale schema-bearing
    // files PURGED before re-stamping — a reader's sampled footer must
    // not resurrect the old organization.
    lazy val hasFiles = graft.sources.Sinks.hasDataFiles(spark, path)
    lazy val populated = hasRowsConservative(hasFiles,
      spark.read.parquet(path))
    def purgeRowlessFiles(): Unit = purgeRowlessLayout(spark, path, hasFiles)
    readMarker(spark, path, file) match {
      case Some(stored) if stored == payload.trim => ()
      case Some(stored) =>
        require(!populated, mismatch(stored))
        purgeRowlessFiles()
        // dead marker over an empty path: clear it, then exclusive-
        // stamp. Delete-then-create is not atomic on its own, but this
        // arm only runs under the writer lease (see the caller), which
        // serializes concurrent corrected retries; stampExclusive
        // remains the second line of defense for a broken/expired
        // lease.
        val p = markerPath(path, file)
        // a failed delete must surface as a delete failure: swallowing
        // it would let stampExclusive lose to the still-present OLD
        // marker and report a misleading concurrent-bootstrap race
        require(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, false),
          s"$what: could not clear the dead marker $p before " +
            "re-stamping — resolve the filesystem error first")
        stampExclusive(spark, path, file, payload, what)
      case None =>
        require(!populated,
          s"$what: $path holds data rows but no $file marker — an " +
            "unguarded layout (likely a crashed rebuild, which clears " +
            "the path before rewriting); refusing to stamp a marker " +
            "over data whose organization is unknown. Rebuild with " +
            "writeIndex (or clear the path) first")
        purgeRowlessFiles()
        stampExclusive(spark, path, file, payload, what)
    }
  }

  /** The "populated" probe of the rowless re-stamp protocol, shared by
    * [[bootstrapUnderLease]] and
    * [[graft.operators.Zorder.appendClustered]]'s schema-mismatch arm
    * (one spelling, so the two cannot drift): "populated" keys on
    * ROWS, not files — Spark writes a schema-only 0-row part file even
    * when an empty frame bootstraps a layout, and keying the refuse
    * arms on file presence would poison every corrected retry of a
    * bootstrap nothing landed under. The row probe short-circuits at
    * the first row (isEmpty = limit 1) and only runs on the RARE
    * mismatch/markerless arms, never a steady-state append.
    * Unreadable data counts as data: a corrupt or foreign file is
    * exactly what must NOT be certified by a fresh marker. */
  private[graft] def hasRowsConservative(hasFiles: => Boolean,
      read: => org.apache.spark.sql.DataFrame): Boolean =
    hasFiles &&
      (try !read.isEmpty
      catch { case scala.util.control.NonFatal(_) => true })

  /** The purge half of the protocol: clear a ROWLESS layout's stale
    * schema-bearing files (a reader's sampled footer must not
    * resurrect the old organization) AND its batch ledger — every
    * ledgered batch contributed zero rows, and a corrected replay of
    * one of those batchIds (now carrying rows) must RE-APPLY rather
    * than no-op; keeping the ledger would silently drop that batch's
    * rows forever. Call only under the writer lease, only after
    * [[hasRowsConservative]] said rowless. */
  private[graft] def purgeRowlessLayout(spark: SparkSession, path: String,
      hasFiles: Boolean): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hasFiles) deleteData(fs, fs.makeQualified(root))
    Seq("_graft_batches", "_graft_staging").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(root, d)
      if (fs.exists(p)) fs.delete(p, true)
    }
    // generation manifests (and the retire ledger) die with the
    // purged files: a stale pointer naming just-deleted files would
    // break every manifest reader until the next commit's refresh —
    // and the refresh itself would UNION the dead names back in (its
    // base is the current manifest)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory &&
          (n.startsWith(graft.operators.Zorder.manifestPrefix) ||
            n.startsWith(graft.operators.Zorder.manifestDeltaPrefix) ||
            n.startsWith(graft.operators.Zorder.retiredPrefix) ||
            n.startsWith(graft.operators.Zorder.schemaDdlPrefix)))
        fs.delete(st.getPath, false)
    }
  }

  /** Best-effort writer lease for a layout path — the enforcement
    * behind the protocol's single-writer-per-path assumption, which
    * was previously documented in two places and enforced in neither.
    * A hidden `_graft_lease` file is created with overwrite=false
    * (exactly one concurrent acquirer wins) holding a fresh owner id;
    * the loser THROWS immediately — loud failure beats silent layout
    * mixing, and callers with a genuine concurrent-writer workload
    * are holding the protocol wrong by definition. A lease left by a
    * crashed holder expires after a TTL (default 10 min, tunable via
    * `spark.graft.layout.lease.ttlMs`) judged by the lease file's
    * mtime; an expired lease is broken and acquisition retried once.
    * Released in `finally` only if still OURS (a holder that overran
    * the TTL and was broken must not release the breaker's lease).
    *
    * Best-effort by design: create-exclusive is atomic on HDFS and
    * local filesystems but only best-effort on eventually-consistent
    * object stores, and TTL-breaking can in principle evict a live
    * writer stalled longer than the TTL — this is a guard that turns
    * the overwhelmingly common accident (two jobs pointed at one
    * layout) into an immediate error, not a distributed lock
    * service. */
  private val heldLeases = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def leaseTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.layout.lease.ttlMs")
      .map(_.toLong).getOrElse(10L * 60 * 1000)

  def withWriterLease[A](spark: SparkSession, path: String,
      what: String)(body: => A): A = {
    val p = markerPath(path, "_graft_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // REENTRANT per thread: the append composites hold ONE lease
    // across bootstrap + publish (closing the in-flight-vs-crashed
    // marker ambiguity a per-step lease cannot), and the inner
    // idempotentAppend/bootstrap acquisitions become no-ops
    val key = fs.makeQualified(p).toString
    if (heldLeases.get.contains(key)) return body
    def acquired[B](b: => B): B = {
      heldLeases.set(heldLeases.get + key)
      try b finally heldLeases.set(heldLeases.get - key)
    }
    val ttlMs = leaseTtlMs(spark)
    val owner = java.util.UUID.randomUUID.toString
    val qp = fs.makeQualified(p)
    def tryAcquire(): Boolean =
      if (qp.toUri.getScheme == "file") {
        // RawLocalFileSystem.create(overwrite=false) is CHECK-THEN-ACT
        // (an exists() test before an unconditional create), so two
        // simultaneous acquirers can BOTH win the "exclusive" create —
        // observed live in LayoutSpec's race harness as interleaved
        // marker writes under two "held" leases. POSIX O_CREAT|O_EXCL
        // via File.createNewFile IS atomic; the owner payload is
        // written after (transient empty content is fine — ownership
        // reads tolerate it, existence+mtime carry the protocol)
        val local = new java.io.File(qp.toUri.getPath)
        local.getParentFile.mkdirs()
        // two SEPARATE handler scopes, not nested in one try: a
        // payload-write failure rethrown through a shared outer catch
        // would hit the exists() contention check and be reclassified
        // as "another writer" — the misdiagnosis this path exists to
        // avoid
        val created =
          try local.createNewFile()
          catch {
            // createNewFile itself threw: only a now-existing file is
            // contention; anything else (permissions) is a real error
            case e: java.io.IOException =>
              if (local.exists()) false else throw e
          }
        created && {
          try {
            java.nio.file.Files.write(local.toPath, owner.getBytes("UTF-8"))
            true
          } catch {
            // our own create succeeded but the payload write failed
            // (disk full, quota): remove the empty lease so the retry
            // isn't blocked for a full TTL by a lease nobody holds,
            // and surface the REAL error — not phantom contention
            case e: java.io.IOException => local.delete(); throw e
          }
        }
      } else {
        // HDFS-class filesystems: create(overwrite=false) is atomic on
        // the namenode — the portable spelling
        var created = false
        try {
          val out = fs.create(p, false)
          created = true
          try out.write(owner.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          // an already-exists failure on the CREATE IS the lost race,
          // regardless of what exists() says afterwards — the holder
          // may release between our failed create and the check, and
          // rethrowing then misreports contention as an I/O error
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
              if !created => false
          case e: java.io.IOException =>
            // our own create succeeded but the payload write/close
            // failed (disk full, quota): delete the orphaned empty
            // lease — otherwise it blocks every writer for a full TTL
            // — and surface the REAL error; the exists(p) fallthrough
            // below would see OUR OWN file and misreport the I/O
            // failure as "another writer holds the lease" (the
            // stampExclusive discipline, mirrored)
            if (created) { fs.delete(p, false); throw e }
            // create failed some other way: only a lease that exists
            // is contention; anything else is a real I/O error
            if (fs.exists(p)) false else throw e
        }
      }
    // lease reads are QUIET: on a checksum filesystem a concurrent
    // writer's in-flight create leaves a transiently unreadable
    // file+.crc pair, and a ChecksumException here would misreport
    // plain contention as an I/O failure (seen live in LayoutSpec's
    // race harness)
    def readLeaseQuiet(): Option[String] =
      try readMarker(spark, path, "_graft_lease")
      catch { case _: java.io.IOException => None }
    def staleAt(q: org.apache.hadoop.fs.Path): Boolean =
      try System.currentTimeMillis() - fs.getFileStatus(q)
        .getModificationTime > ttlMs
      catch { case _: java.io.FileNotFoundException => true }
    if (!tryAcquire()) {
      // contention path (rare): GC dead lease TOMBSTONES first — a
      // breaker that crashed between its rename-aside and the
      // delete/rename-back leaves a `_graft_lease.broken.<uuid>`
      // (and a crashed release a `.released.<uuid>`) that nothing
      // else sweeps; once its mtime exceeds the TTL it is dead by
      // construction (its holder's own lease would have expired)
      gcDeadLeaseFiles(fs, p.getParent, ttlMs)
      // break a stale lease by RENAMING it aside, never delete-then-
      // create: two breakers that both observed staleness would both
      // delete-and-create and both proceed (the same interleaving
      // bootstrapUnderLease's docs warn about) — rename is exclusive,
      // so exactly one breaker wins each attempt. The staleness
      // decision is RE-VALIDATED on the renamed-aside file (which we
      // now hold exclusively): the stat-then-rename window can catch a
      // FRESH lease another breaker just created, and folding it in
      // without the re-check would run two writers concurrently. A
      // stolen live lease is renamed back (best-effort — if its slot
      // was re-created meanwhile, the stolen copy is dropped and the
      // live holder runs unprotected until its TTL, the documented
      // best-effort boundary).
      val broke = staleAt(p) && {
        val aside = new org.apache.hadoop.fs.Path(p.getParent,
          s"_graft_lease.broken.$owner")
        val won = try fs.rename(p, aside)
          catch { case _: java.io.IOException => false }
        if (won) {
          if (staleAt(aside)) { fs.delete(aside, false); true }
          else { if (!fs.rename(aside, p)) fs.delete(aside, false); false }
        } else
          // a vanished lease (the other breaker already renamed it
          // away AND released) still leaves create-exclusive to decide
          !fs.exists(p)
      }
      if (!broke || !tryAcquire())
        throw new IllegalStateException(
          s"$what: another writer (owner ${readLeaseQuiet()
            .getOrElse("<unreadable>").take(8)}…) holds the layout " +
            s"lease at $p — the Layout protocol is single-writer " +
            "per path; wait for it to finish (a crashed holder's lease " +
            s"expires after ${ttlMs / 1000} s)")
    }
    acquired {
      try body
      finally {
        // release by EXCLUSIVE RENAME, never check-then-act: a read-
        // our-owner-then-delete release could observe our owner, have
        // a TTL-breaker rename our overrun lease aside and create its
        // OWN before the delete runs — deleting the breaker's live
        // lease and letting a third writer run concurrently with it.
        // Rename is exclusive: whoever renamed holds the file alone,
        // and ownership is verified on the renamed copy. A pre-read
        // ownership check gates the rename: an OVERRUN holder whose
        // lease a TTL-breaker already replaced must not even
        // transiently steal the breaker's live lease (the
        // unconditional rename stole it on EVERY overrun release and
        // leaned on the hand-back; a third writer acquiring inside
        // that steal window ran concurrently with the breaker). The
        // read-then-rename window remains — rename-and-verify below
        // is the second line — but the steal now needs a breaker swap
        // INSIDE the window instead of happening every time. A lease
        // that READS FOREIGN is left alone (the breaker owns it; it
        // expires by TTL). A read that ERRORS (the transient checksum
        // race readLeaseQuiet itself documents) falls through to the
        // rename-and-verify path instead of skipping the release —
        // skipping left OUR OWN live lease standing until TTL on a
        // transient I/O blip, a liveness regression the old
        // rename-and-verify path never had; the verify-on-tomb below
        // still hands back a foreign lease caught this way.
        val preRead = try Left(readMarker(spark, path, "_graft_lease"))
          catch { case _: java.io.IOException => Right(()) }
        val tomb = new org.apache.hadoop.fs.Path(p.getParent,
          s"_graft_lease.released.$owner")
        val tryRename = preRead match {
          case Left(Some(o)) => o == owner // readable: ours only
          case Left(None) => false         // gone: nothing to release
          case Right(_) => true            // unreadable: verify on tomb
        }
        val got = tryRename &&
          (try fs.rename(p, tomb)
          catch { case _: java.io.IOException => false })
        if (got) {
          val ours = try {
            val in = fs.open(tomb)
            try new String(in.readAllBytes(), "UTF-8").trim == owner
            finally in.close()
          } catch { case _: java.io.IOException => false }
          if (ours) fs.delete(tomb, false)
          // foreign (a breaker replaced ours mid-body) or unreadable:
          // hand it back — if its slot was re-created meanwhile the
          // copy is dropped and that holder runs unprotected until its
          // TTL, the documented best-effort boundary
          else if (!fs.rename(tomb, p)) fs.delete(tomb, false)
        }
        // rename failed: the lease is already gone or replaced-and-
        // being-renamed — not ours to touch; a leftover expires by TTL
      }
    }
  }

  /** Delete dead lease SIDE files (`_graft_lease.broken.*` /
    * `.released.*`) older than `ttlMs` — crash debris of a breaker or
    * releaser that died between its rename and its delete. The live
    * `_graft_lease` itself is never touched (no dot after the name).
    * Swept on the lease CONTENTION path and in [[clearForRebuild]],
    * never per-acquisition — a listStatus per append would tax the
    * hot path for debris only contention can create. */
  private def gcDeadLeaseFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, ttlMs: Long): Unit =
    try {
      if (!fs.exists(dir)) return
      val now = System.currentTimeMillis()
      fs.listStatus(dir).foreach { st =>
        if (!st.isDirectory &&
            st.getPath.getName.startsWith("_graft_lease.") &&
            now - st.getModificationTime > ttlMs)
          fs.delete(st.getPath, false)
      }
    } catch { case _: java.io.IOException => () } // GC is best-effort

  /** Atomic bootstrap stamp: create the marker with overwrite=false
    * (fails if a concurrent bootstrapper got there first), then
    * re-read and require the stored payload is OURS — the create
    * exception alone is not enough, because the racer that lost the
    * create must also learn whether the winner's payload happens to
    * match (same config retried concurrently → proceed) or not
    * (different config → fail fast). */
  private def stampExclusive(spark: SparkSession, path: String,
      file: String, payload: String, what: String): Unit = {
    val p = markerPath(path, file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var created = false
    try {
      val out = fs.create(p, false)
      created = true
      try out.write(payload.getBytes("UTF-8")) finally out.close()
    } catch {
      // only a create that LOST to a concurrent stamp falls through to
      // the verify. Two genuine-I/O-failure shapes must rethrow
      // instead: the create itself failed with no marker appearing
      // (disk full / permissions — reporting it as a lost race sends
      // the operator chasing a phantom concurrent writer), and the
      // create SUCCEEDED but the write/close failed (our own truncated
      // marker is on disk — the verify would misread the partial
      // payload as a racing winner's stamp; delete it so the retry
      // starts clean rather than refusing its own garbage)
      case e: java.io.IOException =>
        if (created) { fs.delete(p, false); throw e }
        if (!fs.exists(p)) throw e
    }
    // verify with ONE short-delay retry: the winner's create→write→
    // close is not atomic, so a loser reading immediately after losing
    // the create can see an empty/partial payload even when the winner
    // is stamping the SAME config — without the retry a healthy
    // concurrent same-payload retry fails (or reports "winner stamped
    // ''"). One bounded re-read after 100 ms closes the in-flight
    // window; a payload still short of ours after that is a genuinely
    // different (or crashed mid-write) winner and fails fast below.
    val stored = {
      val first = readMarker(spark, path, file)
      if (first.contains(payload.trim)) first
      else { Thread.sleep(100); readMarker(spark, path, file) }
    }
    require(stored.contains(payload.trim),
      s"$what: lost a concurrent bootstrap race at $path/$file — the " +
        s"winner stamped '${stored.getOrElse("<missing>")}', this " +
        s"writer's layout is '$payload'; appending would mix " +
        "organizations under the winner's certificate")
  }

  /** Idempotent batch append — the missing half of the streaming
    * maintenance story: Structured Streaming's `foreachBatch` is
    * AT-LEAST-ONCE (a crash after the sink write but before the
    * checkpoint commit replays the batch), and a pure-union parquet
    * append applied twice is duplicate rows a probe then silently
    * double-counts. This turns the append into a transaction keyed by
    * the stream's `batchId`:
    *
    *   1. the batch's rows are written to a staging dir UNDER the
    *      layout (`_graft_staging/<id>` — underscore-prefixed, so
    *      parquet readers of the layout never see them);
    *   2. each staged data file is PUBLISHED by per-file rename into
    *      its final directory under a batch-unique name prefix
    *      (`b<id>-`), preserving the staged partition structure;
    *   3. a ledger entry (`_graft_batches/<id>`) is created — the
    *      commit point — and the staging dir is removed.
    *
    * Replay protocol (every crash window lands in exactly one arm):
    *   - ledger present → the batch fully applied; skip (and GC a
    *     staging dir left by a crash between steps 3's create and
    *     delete);
    *   - no ledger, staging present → a crashed attempt that may have
    *     published some files: delete every published file carrying
    *     this batch's prefix (identifiable BY NAME — the reason the
    *     prefix exists), drop staging, and redo from step 1;
    *   - neither → first attempt; run steps 1–3.
    *
    * The published-file sweep lists the full layout, but only runs on
    * replay-after-crash — never on the clean path. The single-writer
    * assumption is ENFORCED here via [[withWriterLease]]: a concurrent
    * writer on the same path throws instead of interleaving publishes.
    * Returns true if the batch was applied by THIS call, false for a
    * replay no-op. */
  def idempotentAppend(spark: SparkSession, path: String, batchId: Long)(
      write: String => Unit): Boolean = withWriterLease(spark, path,
      s"idempotentAppend(batch $batchId)") {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // scheme-qualified throughout: listStatus returns qualified paths,
    // and relativizing a qualified child against an unqualified root
    // silently yields an ABSOLUTE uri — which would redirect the
    // publish renames back inside staging (then deleted with it)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val ledger = new org.apache.hadoop.fs.Path(root, s"_graft_batches/$batchId")
    val staging = new org.apache.hadoop.fs.Path(root, s"_graft_staging/$batchId")
    val prefix = s"b$batchId-"
    if (fs.exists(ledger)) {
      if (fs.exists(staging)) fs.delete(staging, true)
      false
    } else {
      if (fs.exists(staging)) {
        deleteByPrefix(fs, root, prefix)
        fs.delete(staging, true)
      }
      write(staging.toString)
      publishStaged(fs, staging, staging, root, prefix)
      fs.mkdirs(ledger.getParent)
      // overwrite=false: under the single-writer assumption this never
      // races, but if it ever does, failing beats double-committing
      fs.create(ledger, false).close()
      fs.delete(staging, true)
      true
    }
  }

  /** Roll back every CRASHED in-flight append at `path`: a staging dir
    * without its ledger entry is a publish that may have landed some
    * `b<id>-` files but never committed — [[idempotentAppend]] would
    * sweep-and-redo it on replay, but an operation that FOLDS the
    * published files into new ones first (compaction) would strand the
    * sweep: the replay finds nothing to sweep and re-appends rows the
    * fold already absorbed — silent duplication. So compaction calls
    * this under the writer lease (where any staging-without-ledger is
    * by definition crashed, not in flight): unledgered prefixes are
    * swept and their staging dropped (the stream's replay then redoes
    * the batch cleanly); ledgered staging leftovers are just GC'd. */
  private[operators] def rollbackUnledgered(spark: SparkSession,
      path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val stagingRoot = new org.apache.hadoop.fs.Path(root, "_graft_staging")
    if (!fs.exists(stagingRoot)) return
    fs.listStatus(stagingRoot).foreach { st =>
      val id = st.getPath.getName
      val ledger = new org.apache.hadoop.fs.Path(root, s"_graft_batches/$id")
      if (!fs.exists(ledger)) deleteByPrefix(fs, root, s"b$id-")
      fs.delete(st.getPath, true)
    }
  }

  /** Clear a layout for an in-place REBUILD while keeping the writer
    * lease alive: deletes EVERYTHING under the path — data files,
    * ledger, staging, compaction leftovers, and every marker of every
    * family — except the lease file itself. Exists because
    * `mode("overwrite")` deletes the whole directory INCLUDING the
    * lease file, so a leased rebuild that used overwrite would drop
    * its own mutual exclusion mid-write; rebuild writers clear with
    * this and then write in append mode into the emptied layout.
    * The sweep is deliberately marker-family-agnostic: clearing only
    * the rebuilding family's marker would leave a FOREIGN family's
    * stale marker certifying the new rows (e.g. an Ivf
    * `_graft_centroids` surviving an IvfPq rebuild lets a later
    * Ivf.appendIndex pass its guard and mix row schemas) — overwrite
    * semantics minus the lease, exactly. Markers go before data, so
    * every crash window inside the rebuild leaves data-without-marker
    * (refused by probes/appends), never marker-over-foreign-data. */
  private[operators] def clearForRebuild(spark: SparkSession,
      path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    if (!fs.exists(root)) return
    // dead lease side files don't survive a rebuild either (the one
    // other sweep point besides the contention path — a layout whose
    // breakers crashed but is never contended again GCs here)
    gcDeadLeaseFiles(fs, root, leaseTtlMs(spark))
    def keep(name: String) =
      name == "_graft_lease" || name.startsWith("_graft_lease.")
    // THREE ordered passes, because crash windows between them must
    // all land in refused states: (1) hidden FILES — the marker
    // certificates — go first, so no window pairs a live marker with
    // a half-cleared layout; (2) hidden DIRS — ledger/staging — go
    // second: deleting the ledger while a marker still stood would
    // let a crash leave a healthy-looking layout whose committed
    // batches replay as duplicates; (3) data last (data-without-marker
    // is the refused crashed-rebuild state).
    def sweep(pred: org.apache.hadoop.fs.FileStatus => Boolean): Unit =
      fs.listStatus(root).foreach { st =>
        if (pred(st) && !keep(st.getPath.getName))
          require(fs.delete(st.getPath, true),
            s"clearForRebuild: could not delete ${st.getPath}")
      }
    sweep(st => !st.isDirectory && isHidden(st.getPath.getName))
    sweep(st => st.isDirectory && isHidden(st.getPath.getName))
    sweep(st => !isHidden(st.getPath.getName))
  }

  /** The one spelling of a LEASED in-place rebuild every writeIndex
    * form shares: acquire the writer lease, clear the layout (lease
    * survives — see [[clearForRebuild]] for why `mode("overwrite")`
    * cannot be used here), run the body (which writes append-mode into
    * the emptied layout and stamps its marker LAST). A concurrent
    * appender or compactor throws at lease acquisition instead of
    * publishing into a half-rebuilt layout. */
  private[operators] def rebuild[A](spark: SparkSession, path: String,
      what: String)(body: => A): A =
    withWriterLease(spark, path, what) {
      clearForRebuild(spark, path)
      body
    }

  /** True iff `batchId` is recorded applied at `path` — the
    * ledger-side read of [[idempotentAppend]]'s commit point. */
  def batchApplied(spark: SparkSession, path: String, batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, s"_graft_batches/$batchId")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The ONE hidden-name predicate the layout protocol lives by: what
    * parquet readers skip, what [[publishStaged]]/[[deleteByPrefix]]
    * refuse to touch, and what [[graft.sources.Sinks.hasDataFiles]]
    * excludes from "populated". These three MUST agree — a probe whose
    * "data" definition drifts from the publisher's reads a populated
    * layout as empty, the exact marker-over-live-rows bug the probe
    * exists to prevent — so they all call this. */
  def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Delete EVERY published data file under `dir` (hidden protocol
    * state untouched) — the stale-file purge of the rowless re-stamp
    * arms: 0-row schema-bearing part files must not survive a
    * re-bootstrap, or a reader's sampled footer can resurrect the old
    * schema/flavor. */
  private[graft] def deleteData(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit =
    deleteDataImpl(fs, dir)

  private def deleteDataImpl(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!isHidden(name)) deleteDataImpl(fs, st.getPath)
      } else if (!isHidden(name))
        require(fs.delete(st.getPath, false),
          s"deleteData: could not delete ${st.getPath}")
    }

  /** Move every staged DATA file into the layout, preserving the
    * partition-directory structure relative to `stagingRoot` and
    * prepending the batch prefix to the file name. */
  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      stagingRoot: org.apache.hadoop.fs.Path,
      layoutRoot: org.apache.hadoop.fs.Path, prefix: String): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!isHidden(name))
          publishStaged(fs, st.getPath,
            stagingRoot, layoutRoot, prefix)
      } else if (!isHidden(name)) {
        val rel = fs.makeQualified(stagingRoot).toUri
          .relativize(fs.makeQualified(st.getPath.getParent).toUri).getPath
        require(!rel.startsWith("/"),
          s"idempotentAppend: ${st.getPath} did not relativize against " +
            s"$stagingRoot — refusing to publish outside the layout")
        val destDir = if (rel.isEmpty) layoutRoot
          else new org.apache.hadoop.fs.Path(layoutRoot, rel)
        fs.mkdirs(destDir)
        val dest = new org.apache.hadoop.fs.Path(destDir, prefix + name)
        require(fs.rename(st.getPath, dest),
          s"idempotentAppend: rename ${st.getPath} -> $dest failed")
      }
    }

  /** Delete every published data file carrying `prefix` anywhere under
    * the layout (skipping hidden dirs — staging, ledger, markers). */
  private def deleteByPrefix(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, prefix: String): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!isHidden(name)) deleteByPrefix(fs, st.getPath, prefix)
      } else if (name.startsWith(prefix)) fs.delete(st.getPath, false)
    }

  /** The probe-side requirement above: presence AND match. */
  def requireMarker(spark: SparkSession, path: String, file: String,
      payload: String, what: String,
      mismatch: String => String): Unit =
    readMarker(spark, path, file) match {
      case Some(stored) =>
        require(stored == payload.trim, mismatch(stored))
      case None =>
        require(false,
          s"$what: no $file marker at $path — not a completed graft " +
            "index layout (a crashed rebuild leaves data without its " +
            "marker); rebuild with writeIndex")
    }
}
