package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The one discipline for stored state: the roots a build writes once
  * per JVM and later queries serve from (`graft_canon_*` from
  * [[graft.ops.Dedup.ensureCanonState]], `graft_ivfadc_*` from
  * [[graft.ops.VectorOps.ensureIvfadcIndex]]).
  *
  *  - Memo: one build per (kind, data dir) per JVM; every later call
  *    returns the published root without running a Spark job.
  *  - Name: `graft_<kind>_<basename>_<md5-8>_[<dial>_]p<pid>` under
  *    java.io.tmpdir. The md5 of the ABSOLUTE data-dir path keeps two
  *    dirs that share a basename apart; the pid keeps concurrent
  *    processes (Verify and Bench on one SF) from clobbering each
  *    other; the optional dial (e.g. IVFADC's `k<nlist>[t2]`) makes a
  *    build setting part of the root's identity. The dial is by-name
  *    and evaluated only on a memo miss.
  *  - Sweep: before building, siblings of the same kind and dataset
  *    whose pid is dead are deleted, root and `.build` stage alike,
  *    whatever their dial. A live pid's root is never touched. The
  *    literal prefix is regex-QUOTED, so the `.` in a name like
  *    sf0.01 never matches another dataset's root.
  *  - Publish: the build writes into `<root>.build`, which is then
  *    atomically renamed to the root. A build that throws leaves no
  *    root (and no stage); its error reaches the caller and the next
  *    call rebuilds. A crash mid-build leaves only a `.build` dir that
  *    no reader resolves and the next process sweeps.
  *
  * Builds are deterministic, so a rebuild reproduces the same bits.
  * A build must not call [[ensure]] itself (ConcurrentHashMap's
  * computeIfAbsent forbids recursive updates); neither may a [[phase]]
  * branch, which runs inside the build.
  */
object StateRoot {
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** `graft_<kind>_<basename>_<md5-8>_`: every root of this kind and
    * dataset starts with it, whatever its dial and pid. */
  private[graft] def prefix(kind: String, d: String): String = {
    val f = new File(d)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getAbsolutePath.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    s"graft_${kind}_${f.getName}_${tag}_"
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** The published root of (kind, d), running `build(stageDir)` on the
    * first call in this JVM. */
  def ensure(kind: String, d: String, dial: => String = "")(build: String => Unit): String =
    memo.computeIfAbsent((kind, d), _ => {
      val pid = ProcessHandle.current.pid
      val tmp = new File(sys.props("java.io.tmpdir"))
      val pre = prefix(kind, d)
      val sibling = (java.util.regex.Pattern.quote(pre) +
        "(?:[0-9a-z]+_)?p(\\d+)(?:\\.build)?").r
      Option(tmp.listFiles()).foreach(_.foreach { f =>
        f.getName match {
          case sibling(p) if p.toLong != pid && ProcessHandle.of(p.toLong).isEmpty => rmTree(f)
          case _ => ()
        }
      })
      val dl = dial
      val root = new File(tmp, pre + (if (dl.isEmpty) "" else dl + "_") + s"p$pid")
      val stage = new File(tmp, root.getName + ".build")
      rmTree(stage)
      stage.mkdirs()
      try {
        build(stage.getAbsolutePath)
        rmTree(root)  // left by an earlier process that had this pid
        Files.move(stage.toPath, root.toPath, StandardCopyOption.ATOMIC_MOVE)
      } finally rmTree(stage)
      root.getAbsolutePath
    })

  /** Runs independent build branches on their own driver threads (one
    * per branch) and returns their results in order. It joins every
    * branch before it returns or throws, so [[ensure]] never deletes a
    * stage under a live writer; if any branch threw, the first such
    * branch's own exception is rethrown.
    */
  def phase[A](branches: (() => A)*): Seq[A] = {
    val out = branches.map(_ => new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]())
    val threads = branches.zip(out).zipWithIndex.map { case ((b, o), i) =>
      val t = new Thread(() => o.set(try Right(b()) catch { case e: Throwable => Left(e) }),
        s"graft-phase-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.map(_.get).map(_.fold(e => throw e, identity))
  }
}
