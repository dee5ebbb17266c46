package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Content-stamped cross-session fixture store — the amortization layer
  * under every one-time derived artifact (the trained ANN index, the gram
  * frames, the dedup base index, layout copies).
  *
  * Before this store each fixture dir was tagged with the OWNING SESSION's
  * identity hash and deleted at session teardown, so every JVM re-derived
  * every artifact even when the corpus had not changed — at ×100 that was
  * ~90 s of per-session rebuild (graph_edges 40 s, dpp 28 s, ann_rank
  * 22 s) for byte-identical outputs. A production deployment derives these
  * once per CORPUS VERSION and serves them until the data moves; the store
  * encodes exactly that contract:
  *
  *   - The fixture dir name carries a STAMP hashed from (a) the source
  *     tables' file metadata (relative path, size, mtime — pure filesystem
  *     metadata, no Spark job) and (b) the producing class's compiled
  *     .class file metadata. New data or a recompile of the producer ⇒ new
  *     stamp ⇒ rebuild; unchanged corpus + code ⇒ the dir is found and
  *     reused across sessions AND across JVMs in ~ms.
  *   - Builds land in a process-private `.build.<pid>` dir and are
  *     published by ATOMIC rename, so a concurrent reader can never see a
  *     half-written fixture: the published root is immutable from the
  *     instant it exists. A lost rename race (two JVMs building the same
  *     stamp) discards the loser's copy and reuses the winner's.
  *   - Stale siblings (same family + data dir, different stamp) are
  *     reaped at build time — at most one live dir per (family, corpus)
  *     accumulates in tmp. Nothing is deleted at session teardown anymore;
  *     cross-session reuse IS the point. A sibling referenced by a LIVE
  *     PIN (every obtain() drops a `<root>.<pid>` marker under `.pins/`)
  *     is never reaped: a long-running session on an older code/knob
  *     version holds its root in in-process memos and registered EXTERNAL
  *     table locations, and deleting it mid-session would fail its
  *     queries with missing-file errors — liveness is checked against the
  *     pinning pid, not assumed from "recompiles are session boundaries".
  *
  * The class-file stamp is deliberately coarse (the producer class, not
  * its transitive closure): helper drift in another file would not flip
  * the stamp. Verify's fixture-posture parity pass (served ≡ inline) and
  * the DuckDB hash gate on every fixture-served query are the deep
  * staleness guards — a stale fixture cannot pass either.
  */
object FixtureStore {

  /** Per-process memo so repeat obtain() calls skip even the stamp walk.
    * Keyed by (family, dataDir) — NOT by session: the artifact belongs to
    * the corpus version, not to the session that first derived it.
    */
  private val ready = TrieMap.empty[(String, String), String]

  /** Drop the in-process memo entry — test hook simulating a FRESH JVM
    * (the memo is per-process; a new process starts empty and must
    * rediscover the on-disk dir by stamp). Never called from main code.
    */
  private[graft] def dropMemo(family: String, dataDir: String): Unit = {
    ready.remove((family, dataDir)); ()
  }

  /** Has this process already obtained the fixture? Consumers use this to
    * decide serve-from-fixture vs rebuild-inline (first-payer semantics
    * for entry points that never call the write — Verify, specs).
    */
  def peek(family: String, dataDir: String): Option[String] =
    ready.get((family, dataDir))

  /** File-metadata lines for one source table path (file or directory),
    * recursive, sorted — the data half of the stamp. An absent path is
    * stamped as such rather than erroring: some fixtures derive from
    * tables that a minimal test dir may not carry, and "absent" is itself
    * a content state.
    *
    * Each file line carries a CONTENT SAMPLE (hash of the first + last
    * 4 KiB) beside size+mtime: a same-size rewrite that preserves mtime
    * (rsync -t, archive extraction, snapshot restore) would otherwise
    * silently serve a stale fixture — and while Verify's DuckDB hash gate
    * would catch that, the Bench path serves fixtures ungated, so the
    * stamp itself has to see through metadata-preserving rewrites. Parquet
    * puts the footer (row-group offsets, column stats) in the last bytes,
    * so the tail block alone distinguishes any rewrite that changed a
    * single value; cost is one open + two 4 KiB reads per source file.
    */
  private def fileMeta(p: Path, rel: String): Seq[String] =
    if (!Files.exists(p)) Seq(s"$rel:absent")
    else if (Files.isDirectory(p)) {
      val children = {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        finally s.close()
      }
      children.flatMap(c => fileMeta(c, s"$rel/${c.getFileName}"))
    } else
      Seq(s"$rel:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}:${sampleHash(p)}")

  /** Hash of a file's first and last 4 KiB — the cheap content half of a
    * file's stamp line (see [[fileMeta]]). Unreadable files stamp as such
    * rather than erroring (the size/mtime half still contributes).
    */
  private def sampleHash(p: Path): String =
    try {
      val ch = java.nio.channels.FileChannel.open(p)
      try {
        val size = ch.size()
        val md = java.security.MessageDigest.getInstance("SHA-256")
        def read(pos: Long, len: Int): Unit = {
          val buf = java.nio.ByteBuffer.allocate(len)
          ch.position(pos)
          while (buf.hasRemaining && ch.read(buf) >= 0) {}
          buf.flip(); md.update(buf)
        }
        val blk = 4096L
        read(0L, math.min(size, blk).toInt)
        if (size > blk)
          read(math.max(blk, size - blk), math.min(size - blk, blk).toInt)
        md.digest().take(4).map("%02x".format(_)).mkString
      } finally ch.close()
    } catch { case _: java.io.IOException => "unreadable" }

  /** The code half of the stamp. Two classpath shapes exist here:
    *   - directory classpath (tests): stamp the producer's own .class
    *     file by size+mtime — sbt's incremental compiler rewrites exactly
    *     the changed classes, so an unrelated edit does not invalidate.
    *   - jar classpath (`sbt runMain`): sbt's bg-job runner COPIES the
    *     packaged jar to a fresh temp path per invocation, so path and
    *     mtime are meaningless — stamp the jar's CONTENT hash instead
    *     (stable across copies; changes exactly when any project code
    *     was recompiled, since jar entries carry the class mtimes).
    * Memoized per class: hashing the ~1 MB jar happens once per process.
    * Falls back to "unknown" — which still yields a stable stamp — when
    * the class source is unresolvable (e.g. a REPL-defined class).
    */
  private val codeStamps = TrieMap.empty[Class[_], String]

  private def codeStamp(producer: Class[_]): String =
    codeStamps.getOrElseUpdate(producer,
      try {
        val src = producer.getProtectionDomain.getCodeSource
        if (src == null || src.getLocation == null) "code:unknown"
        else {
          val loc = Paths.get(src.getLocation.toURI)
          if (Files.isDirectory(loc)) {
            val cls = loc.resolve(producer.getName.replace('.', '/') + ".class")
            if (Files.exists(cls))
              s"code:${Files.size(cls)}:${Files.getLastModifiedTime(cls).toMillis}"
            else "code:absent"
          } else if (Files.exists(loc))
            "code:jar:" + java.security.MessageDigest.getInstance("SHA-256")
              .digest(Files.readAllBytes(loc))
              .take(8).map("%02x".format(_)).mkString
          else "code:absent"
        }
      } catch { case _: Throwable => "code:unknown" })

  /** Content hash of the producer's own `.class` bytes — the PER-CLASS
    * alternative to [[codeStamp]]'s whole-jar hash, for families whose
    * build is expensive enough (the ×100 scaled corpus: minutes, GBs)
    * that rebuilding on every unrelated recompile is a real tax. Resolved
    * through the classloader, so it works identically on a directory
    * classpath (tests) and inside the packaged jar (`sbt runMain`), where
    * the jar entry's bytes are stable unless the class itself recompiled.
    * The granularity trade (helper drift in ANOTHER file does not flip
    * the stamp) is the caller's to accept — callers pass the values they
    * depend on from other files as `extra` stamp lines.
    */
  private[graft] def classContentStamp(producer: Class[_]): String =
    try {
      val in = producer.getClassLoader
        .getResourceAsStream(producer.getName.replace('.', '/') + ".class")
      if (in == null) "code:class:absent"
      else
        try "code:class:" + java.security.MessageDigest.getInstance("SHA-256")
          .digest(in.readAllBytes())
          .take(8).map("%02x".format(_)).mkString
        finally in.close()
    } catch { case _: Throwable => "code:class:unknown" }

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Monotonic per-process attempt counter: together with the pid it
    * makes every build dir unique per ATTEMPT, so two threads of one JVM
    * racing the same obtain can never write into each other's dir (the
    * TrieMap memo does not make the builder exclusive — publication
    * correctness comes from unique dirs + the atomic rename, period).
    */
  private val attempt = new java.util.concurrent.atomic.AtomicLong(0)

  /** Published stale siblings younger than this survive a reap pass: a
    * dir this fresh was likely built by a CONCURRENTLY RUNNING process on
    * a different code version, which may still be reading it (external
    * bucketed tables, lazily-consumed fixture scans). Older ones are the
    * previous corpus/code version's leftovers and go — unless a live PIN
    * ([[writePin]]) still references them.
    */
  private val ReapGraceMs = 30L * 60 * 1000

  /** A pin older than this no longer protects its root even if the owning
    * process is alive: long-lived host JVMs (an sbt daemon running
    * in-process tests) would otherwise pin every version they ever
    * obtained for days and tmp would only grow. Sized well above the
    * longest realistic engine session (hours) so no live consumer is ever
    * unprotected; [[obtain]] refreshes the pin's mtime on every call, so
    * a session that re-obtains keeps its protection indefinitely.
    */
  private val PinTtlMs = 12L * 3600 * 1000

  private def pinsDir(base: Path): Path = base.resolve(".pins")

  /** Record that THIS process serves/reads `rootName` — an empty marker
    * file named `<rootName>.<pid>` whose liveness (owning pid alive, age
    * within [[PinTtlMs]]) is checked by the reaper before deleting a
    * stale sibling. Closes the window the round-15 advice flagged: a
    * long-running session on an older code/knob version holds the
    * now-stale root in its in-process memo (and, for the bucketed family,
    * in registered EXTERNAL table LOCATIONs) — a concurrent newer process
    * must not reap it out from under those live readers. Written BEFORE
    * the serve-vs-build check so a concurrent reaper on another stamp can
    * never delete the root between our existence check and first read.
    */
  private def writePin(base: Path, rootName: String): Unit =
    try {
      val pd = pinsDir(base)
      Files.createDirectories(pd)
      val pin = pd.resolve(s"$rootName.${ProcessHandle.current().pid()}")
      try { Files.createFile(pin); () }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.setLastModifiedTime(pin,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          ()
      }
    } catch { case _: java.io.IOException => () }

  /** Does any LIVE pin reference `rootName`? Pins past [[PinTtlMs]] are
    * kept on disk (their owner may refresh them) but do not protect.
    * EVERY dead-pid pin in the listing is swept here — not just this
    * root's and not only until the first live hit (the round-16 advice:
    * the former short-circuiting exists() cleaned dead pins only
    * opportunistically, so `.pins` grew one file per (root, pid)
    * indefinitely while roots stayed live).
    */
  private def hasLivePin(base: Path, rootName: String, now: Long): Boolean = {
    val pd = pinsDir(base)
    if (!Files.exists(pd)) false
    else {
      val entries = {
        val s = Files.list(pd)
        try s.iterator().asScala.toSeq finally s.close()
      }
      def pidOf(p: Path): String =
        p.getFileName.toString.reverse.takeWhile(_.isDigit).reverse
      def alive(pid: String): Boolean = pid.nonEmpty &&
        (try ProcessHandle.of(pid.toLong).isPresent
         catch { case _: Throwable => true })
      // only entries that parse as `<root>.<pid>` participate in the
      // sweep: a foreign/temp file in .pins has no pid suffix and must be
      // SKIPPED, not classified dead and deleted (r17 advice — the old
      // partition treated pidOf()=="" as a dead pin)
      val parseable = entries.filter { p =>
        val name = p.getFileName.toString
        val pid = pidOf(p)
        pid.nonEmpty && name.length > pid.length + 1 &&
          name.charAt(name.length - pid.length - 1) == '.'
      }
      val (live, dead) = parseable.partition(p => alive(pidOf(p)))
      dead.foreach(p => p.toFile.delete())
      live.filter(_.getFileName.toString.startsWith(rootName + "."))
        .exists { p =>
          val age = try now - Files.getLastModifiedTime(p).toMillis
                    catch { case _: Throwable => 0L }
          age <= PinTtlMs
        }
    }
  }

  /** Reap one published stale sibling WITHOUT the check-then-delete race
    * the round-16 advice flagged: a concurrent session's writePin can land
    * between our hasLivePin check and the delete. Sequence: atomically
    * RENAME the root to a process-private `.reap.` tombstone (readers that
    * already opened files keep their fds; a concurrent obtain that just
    * pinned but had not yet checked `_GRAFT_STAMP` now sees the root
    * absent and rebuilds — correct, merely unlucky), then RE-CHECK pins:
    * if one appeared in the window, rename back (losing that race to the
    * victim's own fresh rebuild is fine — the restore fails only if a new
    * root was already published, in which case the victim no longer needs
    * this copy). Only an unpinned tombstone is deleted.
    */
  private def reapPublished(base: Path, root: Path, rootName: String): Unit = {
    val tomb = base.resolve(
      s"$rootName.reap.${ProcessHandle.current().pid()}.${attempt.incrementAndGet()}")
    try Files.move(root, tomb, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.io.IOException => return } // someone else got it
    if (hasLivePin(base, rootName, System.currentTimeMillis())) {
      // a pin landed in the window — undo if the slot is still free
      try { Files.move(tomb, root, StandardCopyOption.ATOMIC_MOVE); return }
      catch { case _: java.io.IOException => () }
      // the restore rename failed — but an IOException does NOT prove the
      // slot was republished (r17 advice: a transient EACCES would fall
      // through and delete a root a live pin just protected). Delete the
      // tombstone only when the slot is VERIFIABLY occupied by a new
      // root; otherwise leave it for the dead-pid orphan sweep.
      if (!Files.exists(root)) return
    }
    deleteRecursively(tomb.toFile)
  }

  /** Obtain the fixture root for `family` over `tables` under `dataDir`,
    * building via `build(tmpRoot)` only when no stamp-valid dir exists.
    * `build` receives a PRIVATE temp root and must write everything under
    * it; publication is the atomic rename here, never the build itself.
    * Returns the published root (immutable once visible).
    *
    * `extra` carries stamp lines beyond data + producer code — resolved
    * env-knob values for families whose CONTENT depends on them (the LSH
    * geometry behind the ranked-frame fixture): a knob change must flip
    * the stamp exactly like a data or code change, or a fixture built
    * under one geometry would silently serve a session running another.
    *
    * `codeStampOverride` replaces the default producer-code stamp (whole
    * jar under `sbt runMain`) — families with minutes-long builds pass
    * [[classContentStamp]] so only a change to the producer class itself
    * (or an `extra` line) triggers a rebuild.
    */
  def obtain(family: String, dataDir: String, tables: Seq[String],
      producer: Class[_], extra: Seq[String] = Nil,
      codeStampOverride: Option[String] = None)(
      build: String => Unit): String =
    ready.getOrElseUpdate((family, dataDir), {
      val lines = (Seq(s"family:$family",
        codeStampOverride.getOrElse(codeStamp(producer))) ++
        extra.sorted ++
        tables.sorted.flatMap { t =>
          fileMeta(Paths.get(dataDir, s"$t.parquet"), s"$t.parquet")
        }).mkString("\n")
      val stamp = sha16(lines)
      val dirTag = dataDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
        Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dataDir))
      val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_fx")
      Files.createDirectories(base)
      val rootName = s"${family}_${dirTag}_$stamp"
      val root = base.resolve(rootName)
      val done = root.resolve("_GRAFT_STAMP")
      // pin FIRST: from here on a concurrent process on a different
      // code/knob version sees this root as live and will not reap it,
      // whether we serve it or are about to build it
      writePin(base, rootName)
      if (Files.exists(done)) root.toString
      else {
        // reap siblings of this family+corpus. Two kinds:
        //  - published dirs with a different stamp: the previous
        //    corpus/code/knob version — reaped once past the grace
        //    window (a younger one may still feed a live process) AND
        //    only when no live pin references them ([[hasLivePin]] — a
        //    long-running session on the old version still reads them);
        //  - `.build.` attempt dirs whose owning PID is dead: orphans of
        //    a crashed build (live attempts — including our own threads'
        //    — are left alone).
        val now = System.currentTimeMillis()
        val sibs = {
          val s = Files.list(base)
          try s.iterator().asScala.toSeq finally s.close()
        }
        sibs.foreach { p =>
          val n = p.getFileName.toString
          if (n.startsWith(s"${family}_${dirTag}_") && n != rootName) {
            // .build. attempt dirs and .reap. tombstones both carry the
            // owning pid; either kind from a dead process is an orphan
            val marker = Seq(".build.", ".reap.")
              .map(m => (m, n.indexOf(m))).find(_._2 >= 0)
            if (marker.isDefined) {
              val (m, bi) = marker.get
              val pid = n.drop(bi + m.length).takeWhile(_.isDigit)
              val dead = pid.nonEmpty &&
                (try ProcessHandle.of(pid.toLong).isEmpty
                 catch { case _: Throwable => false })
              if (dead) deleteRecursively(p.toFile)
            } else if ({
              val age = try now - Files.getLastModifiedTime(p).toMillis
                        catch { case _: Throwable => 0L }
              age > ReapGraceMs && !hasLivePin(base, n, now)
            }) reapPublished(base, p, n)
          }
        }
        val tmp = base.resolve(
          s"$rootName.build.${ProcessHandle.current().pid()}.${attempt.incrementAndGet()}")
        Files.createDirectories(tmp)
        build(tmp.toString)
        Files.writeString(tmp.resolve("_GRAFT_STAMP"), lines)
        try Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: java.nio.file.FileSystemException =>
            // rename race: another attempt published the same stamp
            // first — its copy is equivalent (same data, same code, same
            // knobs); drop ours
            if (Files.exists(done)) deleteRecursively(tmp.toFile)
            else throw e
        }
        root.toString
      }
    })
}
