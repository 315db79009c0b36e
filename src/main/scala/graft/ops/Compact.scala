package graft.ops

import org.apache.spark.sql.SparkSession

/** Abort-on-false Hadoop FileSystem steps for [[Generations]]'
  * destructive operations: FileSystem reports failure by RETURNING
  * FALSE, not throwing, and a sweep that silently continues past a
  * failed delete would report a retired generation that still exists —
  * stop the run instead so a half-failing filesystem surfaces
  * immediately. (The rename helper this object once carried died with
  * the marker-swap protocol in round 14 — the generation layout never
  * renames.) */
private[ops] object FsSteps {
  def deleted(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      recursive: Boolean,
      ctx: String): Unit =
    if (fs.exists(p)) require(fs.delete(p, recursive),
      s"$ctx: delete $p returned false; aborting before further destructive steps")
}

/** Generation-pointer layout for the persisted indexes
  * ([[Similarity]]'s IVF/LSH roots, [[NearDup]]'s MinHash signature
  * index): the index root holds numbered generation directories
  * (`gen-1`, `gen-2`, …) and readers resolve the HIGHEST generation
  * whose `_GEN_DONE` sentinel exists. A rebuild/compaction writes the
  * next generation FULLY, then "flips the pointer" by creating the
  * sentinel — one atomic O_CREAT, chosen over an atomically-renamed
  * `_CURRENT` file because rename-with-overwrite is NOT atomic on
  * every Hadoop FileSystem (RawLocalFileSystem deletes the
  * destination first), while create+close is atomic everywhere and a
  * listing either sees the sentinel or doesn't.
  *
  * Why this removes the old marker-swap's probe-unavailability window:
  * no destructive step ever touches the live generation during a
  * rebuild — the old generation is retired lazily, by [[sweep]] at the
  * START of the NEXT rebuild, so a probe that resolved the pointer
  * just before a flip still finds every file it resolved. The retained
  * previous generation is the price (≤ 2× index footprint between
  * compactions; the index is ≪ the corpus); the bound a deployment
  * must hold is that no probe outlives an entire compaction CYCLE
  * (flip → next compaction's sweep), which replaces the old
  * "quiesce probes for the swap window" runbook rule entirely. A
  * reader that DOES outlive the cycle — a DataFrame still resolved
  * over the retired generation when the next compaction's sweep
  * deletes it — fails LOUDLY, not wrongly: Spark plans record file
  * paths, not file contents, so the reader's next action throws
  * FileNotFoundException (or a task-level read error) rather than
  * returning partial rows (spec: GenerationsSpec "a reader that
  * outlives the compaction cycle fails loudly after the next sweep").
  *
  * Crash safety falls out of the write→flip ordering: a crash before
  * the sentinel leaves a done-less partial generation that readers
  * never resolve and the next sweep removes; a crash after the
  * sentinel IS the committed state (cleanup of the predecessor is the
  * next sweep's job). There is no state from which a retry loses rows.
  *
  * PRODUCERS are serialized by a `_GEN_LOCK` file at the root
  * (atomic O_CREAT, same primitive as the flip): without it, two
  * concurrent rebuilds both target gen-N, the second's [[begin]]
  * deletes the first's in-flight directory, and the first's [[commit]]
  * then flips a half-written generation — silent corruption where the
  * lock makes the second producer fail fast instead. [[rebuild]] and
  * every compactor/appender/ingester in [[Similarity]]/[[NearDup]]
  * take the lock; READERS never do (they resolve committed
  * generations, which no locked operation disturbs). A producer that
  * dies without releasing (JVM crash — no finally runs) leaves the
  * lock stale, and every later producer fails loudly with the heal
  * instruction: verify nothing is live against the index, delete the
  * lock file. Loud-wedge-with-documented-heal beats the silent
  * partial-generation commit it replaces.
  *
  * The lock's mutual exclusion rests on create-exclusive being ATOMIC.
  * That holds on HDFS and ABFS natively, and on `file://` roots via an
  * explicit special case in [[acquireLock]]: Hadoop's
  * RawLocalFileSystem/ChecksumFileSystem implement
  * `create(path, overwrite=false)` as an exists() check FOLLOWED by
  * create — check-then-act, so two local-JVM producers could both
  * "acquire" — so local roots go through `java.nio.file.Files
  * .createFile` (kernel O_CREAT|O_EXCL) instead. Object stores whose
  * create is check-then-act (S3A without conditional writes, GCS, …)
  * have no such primitive to reach for: there, two producers can both
  * "acquire", and deployments must serialize producers externally (a
  * scheduler, a real lock service such as ZooKeeper/DynamoDB
  * conditional puts). [[acquireLock]] therefore REFUSES any root whose
  * scheme is not on a known-atomic-create ALLOWLIST (fail closed — the
  * object-store hazard class grows a member with every new vendor
  * connector) unless the deployment states it has that external
  * serialization, via `-Dgraft.generations.allowNonAtomicFs=true` —
  * a silent mutual-exclusion downgrade is exactly the failure class
  * the lock exists to prevent. The `_GEN_DONE` flip never had this
  * dependence — its atomicity claim is only that readers see the
  * sentinel entirely or not at all. */
object Generations {

  private val Done = "_GEN_DONE"
  private val GenPrefix = "gen-"
  private val Lock = "_GEN_LOCK"
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def genNumber(name: String): Option[Int] =
    if (name.startsWith(GenPrefix)) name.drop(GenPrefix.length).toIntOption
    else None

  private def generations(fs: FileSystem, root: Path): Seq[(Int, Path)] =
    if (!fs.exists(root)) Nil
    else
      fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .flatMap(st => genNumber(st.getPath.getName).map(_ -> st.getPath))
        .sortBy(_._1)

  /** One (FileSystem, qualified root) pair for an index path — the
    * resolution boilerplate every Similarity/NearDup site needs. */
  def fsRoot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  /** The live generation: highest `gen-N` whose `_GEN_DONE` exists
    * (generations() already returns ascending order). */
  def resolve(fs: FileSystem, root: Path): Option[(Int, Path)] =
    generations(fs, root).filter { case (_, p) => fs.exists(new Path(p, Done)) }
      .lastOption

  /** Live generation's directory as a string, for `spark.read` — fails
    * fast when `root` holds no committed generation (not an index). */
  def currentDir(fs: FileSystem, root: Path): Path =
    resolve(fs, root).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"$root holds no committed index generation (no gen-N/$Done) — " +
          "not an index root, or the initial build never completed"))

  /** The producer lock's path — exposed so operators and specs can name
    * it in diagnostics without hardcoding the filename. */
  def lockPath(root: Path): Path = new Path(root, Lock)

  /** Acquire the root's producer lock: one atomic create-exclusive, so
    * exactly one rebuild/compaction/append/ingest mutates the root at a
    * time. Fails fast (never waits) when held — a concurrent producer
    * is a deployment error, not a queue — and the failure message
    * carries both the recorded holder and the heal path for the
    * crashed-producer case. Returns an OWNERSHIP TOKEN (written into
    * the lock file, `who` prefix for the diagnostic): [[releaseLock]]
    * deletes only a lock still carrying it, so a delayed
    * belt-and-braces release (an ingest stream's async termination
    * listener) can never free a lock some OTHER producer has since
    * legitimately acquired after a manual heal. */
  def acquireLock(fs: FileSystem, root: Path, who: String): String = {
    requireAtomicCreate(fs, root)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = lockPath(root)
    def held(e: java.io.IOException): Nothing =
      throw new IllegalStateException(
        s"$root: producer lock $Lock is held (holder: ${lockHolder(fs, lock)}) — a " +
          "concurrent rebuild/compaction/append/ingest is running against this " +
          "index, or a crashed producer left the lock stale. If an ingest stream " +
          "just FAILED, its listener-bus release may land momentarily — retry " +
          "once before healing. Otherwise verify nothing is live, then delete " +
          s"$lock to heal.", e)
    val (out, stillMine) =
      try createExclusive(fs, lock)
      catch {
        // only the exists-collision maps to "held"; a permission error or
        // transient fault must propagate as itself, not as a heal
        // instruction that would have an operator delete a live lock
        case e: org.apache.hadoop.fs.FileAlreadyExistsException => held(e)
        case e: java.nio.file.FileAlreadyExistsException => held(e)
        case e: java.io.IOException if fs.exists(lock) => held(e)
      }
    val token = s"$who@${java.util.UUID.randomUUID()}"
    writeFully(fs, lock, out, token, stillMine)
    token
  }

  /** Create `p` exclusively, ATOMICALLY. Hadoop's `create(p, overwrite
    * = false)` is only as atomic as the FileSystem's implementation,
    * and RawLocalFileSystem/ChecksumFileSystem implement it as an
    * exists() check followed by an unconditional create — check-then-
    * act, so two producers in separate local JVMs could both pass the
    * check and both "hold" the lock (the same TOCTOU object stores
    * have). `file://` roots therefore route through
    * `java.nio.file.Files.newOutputStream(CREATE_NEW)`, kernel
    * O_CREAT|O_EXCL|O_WRONLY — ONE open that both creates exclusively
    * and IS the token-write handle. The single handle matters beyond
    * atomicity (r16 advisor finding): a second overwrite-reopen (the
    * pre-r17 shape) left a window where a producer stalled between
    * create and reopen could — after an operator followed the
    * documented heal (delete the apparently-husk lock) and a NEW
    * producer acquired — have its delayed overwrite truncate the new
    * holder's token, and both would proceed: the exact
    * mutual-exclusion loss the kernel create was bought to end. With
    * one handle the stalled producer's write goes to the inode it
    * created; once healed, that inode is unlinked, so the write lands
    * nowhere visible. A token-write failure on this handle is
    * writeFully's to clean (it deletes the husk before rethrowing —
    * left behind, acquireLock's catch would misread the transient
    * fault as "held"). The checksum sibling LocalFileSystem would have
    * written is deliberately absent: ChecksumFileSystem tolerates a
    * missing `.crc` on read, and no CRC protects a file whose whole
    * point is existence. HDFS/ABFS take the
    * plain Hadoop path (their create-exclusive is atomic on the
    * NameNode / conditional-write); schemes not on the known-atomic
    * list never reach here ([[requireAtomicCreate]] refuses them
    * first). */
  private def createExclusive(
      fs: FileSystem,
      p: Path): (org.apache.hadoop.fs.FSDataOutputStream, () => Boolean) =
    if (fs.getUri.getScheme == "file") {
      val nio = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      def pathKey(): Option[AnyRef] = Option(java.nio.file.Files
        .readAttributes(nio, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey())
      // LINK PROTOCOL (r18, closes the r17-documented create-to-stat
      // window): create a uniquely-named temp sibling, capture ITS
      // inode key — race-free, nobody heals or acquires a UUID name —
      // then atomically hard-link it to the lock name. The link is the
      // exclusive acquire (fails FileAlreadyExists when held, exactly
      // like CREATE_NEW), and the identity was known BEFORE the lock
      // name existed, so stillMine can never capture a successor's
      // inode. The write handle stays on the temp-open stream: same
      // inode, so the token lands at the lock path; the temp NAME is
      // unlinked right after (a kill between create and unlink leaves
      // an inert `.tmp` husk that never blocks an acquire — a heal may
      // remove them). Filesystems without hard links fall back to the
      // r17 CREATE_NEW-then-stat shape with its documented residual
      // window.
      val tmp = nio.resolveSibling(
        s"${nio.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      def cleanupTmp(): Unit =
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: java.io.IOException => () }
      val out = new org.apache.hadoop.fs.FSDataOutputStream(
        java.nio.file.Files.newOutputStream(
          tmp, java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE),
        null)
      def abort(e: Throwable): Nothing = {
        try out.close() catch { case _: java.io.IOException => () }
        cleanupTmp()
        throw e
      }
      // our inode's identity, pre-link. A transient stat failure here
      // aborts the acquire as ITSELF (the lock name does not exist yet,
      // so acquireLock's held-mapping correctly lets it propagate).
      val key: Option[AnyRef] =
        try Option(java.nio.file.Files
          .readAttributes(tmp, classOf[java.nio.file.attribute.BasicFileAttributes])
          .fileKey())
        catch { case e: java.io.IOException => abort(e) }
      val linked =
        try { java.nio.file.Files.createLink(nio, tmp); true }
        catch {
          // held: surface as the exclusive-create collision acquireLock
          // maps to its actionable "held" error (temp husk removed first)
          case e: java.nio.file.FileAlreadyExistsException => abort(e)
          // this FS has no hard links: fall back to CREATE_NEW below
          case _: UnsupportedOperationException => false
          // our temp VANISHED mid-acquire (a heal swept .tmp husks, or
          // the root is being torn down): abort as itself — silently
          // taking the racy fallback on a link-capable FS is exactly
          // the window the link protocol exists to close (r18 review)
          case e: java.nio.file.NoSuchFileException => abort(e)
          // generic errno shape: some mounts surface no-hard-link
          // support as EPERM (FileSystemException) rather than
          // UnsupportedOperationException. Fall back only with our
          // temp intact; a vanished temp aborts as above.
          case e: java.nio.file.FileSystemException =>
            if (java.nio.file.Files.exists(tmp)) false else abort(e)
        }
      if (linked) {
        cleanupTmp()
        // a PRE-r17 producer wrote this lock through LocalFileSystem and
        // left a checksum sibling; a plain `rm _GEN_LOCK` heal keeps it,
        // and ChecksumFileSystem verifies our fresh raw bytes against the
        // STALE .crc on the next readLock — releaseLock would then refuse
        // the rightful owner. We hold the path (link just won), so the
        // legacy sibling is garbage by definition: drop it.
        try java.nio.file.Files.deleteIfExists(
          nio.resolveSibling("." + nio.getFileName + ".crc"))
        catch { case _: java.io.IOException => () }
        val stillMine = () => key match {
          // identity unknowable on this FS (no fileKey): keep the
          // legacy path-delete
          case None    => true
          case Some(k) =>
            try pathKey().contains(k)
            catch { case _: java.io.IOException => false } // path gone: nothing to delete
        }
        (out, stillMine)
      } else {
        // FALLBACK (no-hard-link FS): the r17 shape — CREATE_NEW on the
        // lock name, identity captured by a SEPARATE path-stat after it.
        // Three outcomes kept distinct (r17 review finding):
        //  Right(Some(k)) — identity known: delete only if still k;
        //  Right(None) — FS exposes no fileKey: keep the path-delete;
        //  Left(_) — the stat failed: unknown but KNOWABLE, never
        //    delete (a successor may own the path by now).
        // Residual window, documented not closed ON THIS PATH ONLY: a
        // heal plus a successor's acquire landing between create and
        // stat captures the successor's key — the heal contract
        // ("verify nothing is live, then delete") already excludes
        // healing a lock whose producer is mid-acquire.
        try out.close() catch { case _: java.io.IOException => () }
        cleanupTmp()
        val out2 = new org.apache.hadoop.fs.FSDataOutputStream(
          java.nio.file.Files.newOutputStream( // throws nio FileAlreadyExistsException
            nio, java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE),
          null)
        try java.nio.file.Files.deleteIfExists(
          nio.resolveSibling("." + nio.getFileName + ".crc"))
        catch { case _: java.io.IOException => () }
        val key2: Either[Unit, Option[AnyRef]] =
          try Right(pathKey())
          catch { case _: java.io.IOException => Left(()) }
        val stillMine = () => key2 match {
          case Left(_)        => false
          case Right(None)    => true
          case Right(Some(k)) =>
            try pathKey().contains(k)
            catch { case _: java.io.IOException => false }
        }
        (out2, stillMine)
      }
    } else (fs.create(p, false), () => true)

  /** System property a deployment sets (`-Dgraft.generations
    * .allowNonAtomicFs=true`) to state that producers are serialized
    * EXTERNALLY (a scheduler, a lock service) and the `_GEN_LOCK`'s
    * on-FS mutual exclusion may be best-effort. Without it,
    * [[acquireLock]] refuses roots whose scheme is not on the
    * known-atomic-create list. JVM-WIDE and therefore blunt (r16
    * advisor finding): one deployment that legitimately serializes
    * producers for ONE object-store root waives the guard for every
    * other root in the same JVM, including ones nobody serializes.
    * Prefer the per-root [[AllowNonAtomicFsMarker]] — this property
    * remains for single-root deployments and as the upgrade path for
    * pre-r16 object-store layouts (where the guard itself was a
    * breaking change). */
  val AllowNonAtomicFsProp = "graft.generations.allowNonAtomicFs"

  /** Per-root opt-out: an (empty) marker file a deployment places AT
    * the index root — `<root>/_ALLOW_NON_ATOMIC_FS` — to state that
    * producers against THIS root are serialized externally. Scoped to
    * exactly the data whose guarantee it waives, visible in the same
    * listing as that data, and auditable in the root's history; other
    * roots in the same JVM keep the full refusal. One `exists` call at
    * producer start, on a path the producer is about to list anyway. */
  val AllowNonAtomicFsMarker = "_ALLOW_NON_ATOMIC_FS"

  /** Schemes whose create-exclusive is known ATOMIC — local (via
    * [[createExclusive]]'s O_CREAT|O_EXCL route), HDFS-family (single
    * NameNode namespace op), ABFS (conditional create), Ozone. An
    * ALLOWLIST, failing closed: the hazard class (object stores with
    * check-then-act create: S3A, GCS, OSS, COS, WASB, Swift, OBS, TOS,
    * …) grows a new member with every vendor connector, and a
    * blocklist would wave each new one through to the exact silent
    * mutual-exclusion downgrade the guard exists to stop. `viewfs` is
    * deliberately absent — it resolves to whatever its mount table
    * names, which this check cannot see; opt in if every mount is
    * atomic. Unknown-but-actually-atomic schemes pay one explicit
    * `-Dgraft.generations.allowNonAtomicFs=true` (or a PR to this
    * list), which is the cheap direction of the asymmetry: a refused
    * good scheme is one startup error; an admitted bad one is silent
    * index corruption. */
  private val AtomicCreateSchemes =
    Set("file", "hdfs", "webhdfs", "swebhdfs", "hopsfs", "abfs", "abfss", "o3fs", "ofs")

  /** Refuse to take a producer lock on a filesystem that cannot give
    * the lock its mutual-exclusion semantics, unless the deployment
    * explicitly opts out (external serialization in place). Checked at
    * every producer START — one cheap scheme test — because a lock that
    * only usually excludes is worse than no lock: operators trust it.
    * The scheme comes from `fs.getUri` (always present), NOT
    * `fs.getScheme` — the base FileSystem implementation of the latter
    * throws UnsupportedOperationException, which would turn the guard
    * into a crash on every connector that doesn't override it. */
  private def requireAtomicCreate(fs: FileSystem, root: Path): Unit = {
    val scheme = fs.getUri.getScheme
    if (!AtomicCreateSchemes.contains(scheme) &&
        !java.lang.Boolean.getBoolean(AllowNonAtomicFsProp) &&
        // per-root marker checked LAST: on the common path (atomic
        // scheme, or the JVM property set) it costs nothing; the exists
        // call is paid only by non-atomic roots deciding their fate.
        // A missing root cannot carry a marker — exists(child) on a
        // missing parent is simply false, which fails CLOSED.
        !(try fs.exists(new Path(root, AllowNonAtomicFsMarker))
          catch { case _: java.io.IOException => false }))
      throw new IllegalStateException(
        s"$root: scheme '$scheme' is not on the known-atomic-create-exclusive " +
          s"list, so the $Lock producer lock cannot be trusted for mutual " +
          "exclusion there — on check-then-act filesystems (S3-class object " +
          "stores) two concurrent producers could both acquire it and silently " +
          "corrupt the index. Serialize producers externally (a scheduler or " +
          s"lock service), then opt in for THIS root by placing an empty " +
          s"$AllowNonAtomicFsMarker file at $root (or JVM-wide with " +
          s"-D$AllowNonAtomicFsProp=true).")
  }

  /** Finish writing a just-created marker file, deleting the husk when
    * the write fails: a partial lock/id file would wedge every retry
    * behind a heal for a failure no JVM crash excuses. The handle is
    * closed before the delete (an open-for-write file may refuse
    * deletion). Shared by the lock and [[Similarity]]'s ingest-identity
    * files so the discipline cannot drift between them.
    *
    * `stillMine` gates the failure-path delete by IDENTITY, not path
    * (r17 review finding): a producer stalled since its create may
    * resume this write AFTER an operator healed the husk and a new
    * producer acquired — its delayed failure must not delete the NEW
    * holder's file, which the path now names. [[createExclusive]]
    * supplies an inode (fileKey) check for local roots; schemes where
    * identity is unknowable keep the path delete (the pre-r17
    * behavior, with its documented residual race). */
  private[ops] def writeFully(
      fs: FileSystem,
      p: Path,
      out: org.apache.hadoop.fs.FSDataOutputStream,
      content: String,
      stillMine: () => Boolean = () => true): Unit =
    try {
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch {
      case e: java.io.IOException =>
        try out.close() catch { case _: java.io.IOException => () }
        try { if (stillMine()) fs.delete(p, false) }
        catch { case _: java.io.IOException => () }
        throw e
    }

  private def lockHolder(fs: FileSystem, lock: Path): String =
    readLock(fs, lock).getOrElse("unknown")

  /** The lock's content, None when the read itself fails — callers that
    * DECIDE on the holder (release) must distinguish a foreign token
    * from an unreadable file; only diagnostics flatten to "unknown". */
  private def readLock(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Release the producer lock IF `token` still owns it. Idempotent —
    * an already-free root is a no-op — and ownership-checked: a lock
    * carrying a different token (another producer acquired after this
    * one's release, or after a manual heal) is left untouched, so
    * double-release paths (a stop() hook plus a termination listener)
    * can never break a successor's mutual exclusion. An UNREADABLE
    * lock throws instead of silently skipping: treating a transient
    * read fault as "not mine" would wedge the root stale with no
    * error anywhere. */
  def releaseLock(fs: FileSystem, root: Path, token: String): Unit = {
    val lock = lockPath(root)
    if (fs.exists(lock)) readLock(fs, lock) match {
      case Some(holder) if holder == token =>
        require(fs.delete(lock, false),
          s"Generations.releaseLock: delete $lock returned false — the lock is " +
            "now stale and the next producer will refuse to start; remove it manually")
      case Some(_) => () // a successor's lock — never touch it
      // deleted between the exists() and the open() (a manual heal
      // racing this release): already gone IS the idempotent no-op
      case None if !fs.exists(lock) => ()
      case None =>
        throw new IllegalStateException(
          s"Generations.releaseLock: $lock exists but cannot be read, so ownership " +
            "is unverifiable — not deleting (it may be a successor's). If no " +
            "producer is live against this index, delete it manually.")
    }
  }

  /** Run `body` holding the producer lock, releasing on every exit —
    * including a failed body, whose partial generation is already
    * unreachable garbage ([[sweepPartials]]' job), so holding the lock
    * past the failure would only wedge the retry. A release failure
    * never masks the body's own exception (it rides along suppressed —
    * the compaction error is the root cause an operator needs). */
  def withLock[A](fs: FileSystem, root: Path, who: String)(body: => A): A = {
    val token = acquireLock(fs, root, who)
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally {
      try releaseLock(fs, root, token)
      catch {
        case t: Throwable =>
          if (primary == null) throw t else primary.addSuppressed(t)
      }
    }
  }

  /** Directory for the NEXT generation (current + 1; 1 on a fresh
    * root). The caller writes it fully, then [[commit]]s. A leftover
    * uncommitted directory with this number (a crashed prior attempt)
    * is removed first — it is unreachable garbage by construction.
    * PRIMITIVE: assumes the caller holds the producer lock (every
    * in-repo producer reaches it through [[rebuild]]/[[withLock]]) —
    * two unserialized producers would race each other's gen-N here.
    * FS CONTRACT: that lock's mutual exclusion needs atomic
    * create-exclusive on the root's filesystem; [[acquireLock]] refuses
    * object-store roots unless producers are serialized externally
    * (`-Dgraft.generations.allowNonAtomicFs=true` — a lock service, per
    * the module doc). */
  def begin(fs: FileSystem, root: Path): Path = {
    val next = resolve(fs, root).map(_._1 + 1).getOrElse(1)
    val dir = new Path(root, s"$GenPrefix$next")
    if (fs.exists(dir)) {
      require(!fs.exists(new Path(dir, Done)),
        s"$dir is committed but did not resolve — corrupted generation numbering")
      FsSteps.deleted(fs, dir, recursive = true, "Generations.begin")
    }
    dir
  }

  /** The atomic flip: readers resolve `genDir` from the moment this
    * create lands. Call only after every row of the generation is on
    * disk. PRIMITIVE: producer-lock discipline as [[begin]]. */
  def commit(fs: FileSystem, genDir: Path): Unit =
    fs.create(new Path(genDir, Done), false).close()

  /** Sweep, open the next generation, run `body` on its directory,
    * commit — the whole producer protocol in order, serialized against
    * every other producer by the root's `_GEN_LOCK`. `body` must leave
    * every row of the new generation on disk before returning. */
  def rebuild(fs: FileSystem, root: Path)(body: String => Unit): Unit =
    withLock(fs, root, "rebuild")(rebuildLocked(fs, root)(body))

  /** [[rebuild]] for a caller that ALREADY holds the producer lock
    * (the compactors, whose pre-checks and union reads must sit inside
    * the same critical section as the swap — see
    * [[Similarity.compactIndex]]). */
  def rebuildLocked(fs: FileSystem, root: Path)(body: String => Unit): Unit = {
    sweep(fs, root)
    val gen = begin(fs, root)
    body(gen.toString)
    commit(fs, gen)
  }

  /** Name of the generation's FLAVOR marker: a one-line tag written by
    * index producers naming the layout that wrote the generation. A
    * root read back from disk must match the layout that reads it, and
    * a schema guard cannot see which layout wrote the bytes, so
    * ingesters, probes and compactions check this instead. Lives in
    * [[Generations]] so every producer family (Similarity's vector
    * indexes, NearDup's signature index) shares one
    * read/write/carry-forward discipline. */
  private val Flavor = "_GRAFT_FLAVOR"

  /** Stamp `genDir`'s flavor — call INSIDE the rebuild body, before the
    * done flip, so the marker is exactly as atomic as the data. */
  private[ops] def writeFlavorMarker(fs: FileSystem, genDir: Path, flavor: String): Unit = {
    val p = new Path(genDir, Flavor)
    writeFully(fs, p, fs.create(p, false), flavor)
  }

  /** The generation's flavor, None for a generation written before the
    * marker existed (legacy: the schema guard is the only protection).
    * An EXISTING but unreadable marker propagates its IOException — a
    * caller deciding whether to append must not guess. */
  private[ops] def readFlavorMarker(fs: FileSystem, genDir: Path): Option[String] = {
    val p = new Path(genDir, Flavor)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Retire UNCOMMITTED partial generations only (crashed rebuilds).
    * Safe on ANY path including no-op ones: a done-less directory is
    * unreachable by readers by construction, so deleting it can kill
    * no probe — unlike [[sweep]], which also retires the committed
    * grace generation and must only run when a new flip follows. Keeps
    * a crashed compaction's multi-gigabyte partial from leaking
    * forever on an index that never sees another real compaction. */
  def sweepPartials(fs: FileSystem, root: Path): Unit =
    generations(fs, root).filter { case (_, p) => !fs.exists(new Path(p, Done)) }
      .foreach { case (_, p) =>
        FsSteps.deleted(fs, p, recursive = true, "Generations.sweepPartials")
      }

  /** Retire everything that is not the live generation: committed
    * predecessors (the grace generation from the last flip) and
    * uncommitted partials (crashed rebuilds). Sentinel drops before its
    * directory so a mid-sweep crash leaves a done-less partial, never a
    * committed-but-half-deleted generation. Safe whenever no probe has
    * been running since before the PREVIOUS flip. */
  def sweep(fs: FileSystem, root: Path): Unit =
    resolve(fs, root).foreach { case (live, _) =>
      generations(fs, root).filter(_._1 != live).foreach { case (_, p) =>
        FsSteps.deleted(fs, new Path(p, Done), recursive = false, "Generations.sweep")
        FsSteps.deleted(fs, p, recursive = true, "Generations.sweep")
      }
    }
}

/** Small-file compaction for a parquet corpus — the operational
  * counterpart of the streaming sinks: a micro-batch parquet sink
  * appends at least one file per batch per partition, and a week of
  * 2-second triggers turns a corpus into millions of KB-sized files
  * whose open/footer overhead dominates every downstream scan.
  *
  * Compaction writes a NEW generation directory (never in place — the
  * source may be a live streaming sink whose `_spark_metadata` commit
  * log and in-flight readers must stay untouched) sized to
  * `targetFileBytes`: file count = ⌈input bytes / target⌉, data
  * round-robin-repartitioned so output files are uniform. The caller
  * swaps readers to the new generation and retires the old one — the
  * same generation pattern as the persisted ANN index rebuilds. */
object Compact {

  /** Compact `srcDir` (parquet) into `destDir`; returns the task count
    * sized from the input bytes. `targetFileBytes` defaults to 128 MiB —
    * the usual scan-friendly parquet size. `partitionBy` preserves a
    * directory-partitioned layout (e.g. the lang-partitioned corpus):
    * tasks are then CLUSTERED by the partition columns so each output
    * partition directory receives coalesced files rather than one
    * fragment per task. */
  def corpus(
      spark: SparkSession,
      srcDir: String,
      destDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(spark.sessionState.newHadoopConf())
    // Alias-proof overwrite guard: a raw string compare passes trailing
    // slashes, relative-vs-absolute spellings, or ".." segments naming
    // the SAME directory and the mode("overwrite") below would then
    // clobber the live source generation. Compare fully-qualified paths
    // with dot-segments resolved (URI.normalize — makeQualified alone
    // keeps ".." literal, so src+"/../<srcname>" would slip through),
    // and reject nesting in either direction (dest inside src is
    // destroyed by the overwrite; src inside dest is read while being
    // rewritten). Symlink aliases are out of scope — a generic
    // FileSystem has no realpath; callers juggling symlinked
    // generations must pass resolved paths.
    def norm(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
      fs.makeQualified(new org.apache.hadoop.fs.Path(p.toUri.normalize()))
    val qSrc = norm(src)
    val qDest = norm(new org.apache.hadoop.fs.Path(destDir))
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
      var p: org.apache.hadoop.fs.Path = b
      while (p != null && p != a) p = p.getParent
      p != null
    }
    require(qDest != qSrc && !contains(qSrc, qDest) && !contains(qDest, qSrc),
      s"compaction must write a disjoint new generation directory ($qSrc vs $qDest)")
    val it = fs.listFiles(src, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val files = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(srcDir)
    val sized =
      if (partitionBy.isEmpty) df.repartition(files)
      else df.repartition(files, partitionBy.map(org.apache.spark.sql.functions.col): _*)
    val writer = sized.write.mode("overwrite")
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*))
      .parquet(destDir)
    files
  }
}
