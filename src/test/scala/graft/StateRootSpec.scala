package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The stored-state root discipline ([[StateRoot.ensure]]) with a tiny
  * file-writing build and no Spark: memo, failure, sweep and publish.
  */
class StateRootSpec extends AnyFunSuite {
  private val tmp = new File(sys.props("java.io.tmpdir"))
  private val pid = ProcessHandle.current.pid
  // above Linux's largest pid_max (2^22): no such process can exist
  private val deadPid = 4194305L

  private val made = scala.collection.mutable.Buffer.empty[File]

  /** A fresh data dir (unique path → unique md5 tag and memo key). */
  private def dataDir(): String = {
    val base = Files.createTempDirectory("stateroot").toFile
    made += base
    new File(base, "sf0.01").getPath
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Deletes every data dir the test made, and each root or stage of
    * it under java.io.tmpdir. */
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally {
      val pres = for (b <- made.toSeq; k <- Seq("spec", "canon", "ivfadc"))
        yield StateRoot.prefix(k, new File(b, "sf0.01").getPath)
      Option(tmp.listFiles()).foreach(_.filter(f => pres.exists(f.getName.startsWith))
        .foreach(rmTree))
      made.foreach(rmTree)
      made.clear()
    }

  private def counted(n: java.util.concurrent.atomic.AtomicInteger)(sp: String): Unit = {
    n.incrementAndGet()
    Files.writeString(new File(sp, "rel").toPath, "bits")
    ()
  }

  test("a second ensure in the same JVM returns the published root without rebuilding") {
    val d = dataDir()
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val root = StateRoot.ensure("spec", d)(counted(n))
    assert(StateRoot.ensure("spec", d)(counted(n)) === root)
    assert(n.get === 1)
    assert(new File(root).getName === StateRoot.prefix("spec", d) + s"p$pid")
    assert(new File(root, "rel").isFile, "the build's relation was not published")
    assert(!new File(root + ".build").exists, "staging dir survived a completed build")
  }

  test("a throwing build reaches the caller, leaves no root, and the next call rebuilds") {
    val d = dataDir()
    val root = new File(tmp, StateRoot.prefix("spec", d) + s"p$pid")
    val e = intercept[IllegalStateException] {
      StateRoot.ensure("spec", d) { sp =>
        Files.writeString(new File(sp, "half").toPath, "partial")
        throw new IllegalStateException("build died")
      }
    }
    assert(e.getMessage === "build died")
    assert(!root.exists, "a failed build published a root")
    assert(!new File(root.getPath + ".build").exists, "a failed build left its stage")
    val n = new java.util.concurrent.atomic.AtomicInteger()
    assert(StateRoot.ensure("spec", d)(counted(n)) === root.getAbsolutePath)
    assert(n.get === 1)
    assert(!new File(root, "half").exists, "the failed build's bits were published")
  }

  test("a throwing phase branch is rethrown only after its siblings finish, and nothing is published") {
    import java.util.concurrent.CountDownLatch
    import scala.jdk.CollectionConverters._
    val d = dataDir()
    val root = new File(tmp, StateRoot.prefix("spec", d) + s"p$pid")
    val writing = new CountDownLatch(1)
    val thrown = new CountDownLatch(1)
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      StateRoot.ensure("spec", d) { sp =>
        StateRoot.phase(
          () => {
            writing.await()
            thrown.countDown()
            throw new IllegalStateException("branch died")
          },
          () => {
            Files.writeString(new File(sp, "early").toPath, "partial")
            writing.countDown()
            thrown.await()
            Thread.sleep(300)  // still writing after the sibling threw
            Files.writeString(new File(sp, "late").toPath, "partial")
            siblingDone.set(true)
          })
        ()
      }
    }
    assert(e.getMessage === "branch died", "the caller got a wrapper, not the branch's exception")
    assert(siblingDone.get, "ensure returned while a sibling branch was still writing")
    assert(!root.exists, "a failed build published a root")
    assert(!new File(root.getPath + ".build").exists, "a failed build left its stage")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith("graft-phase-")), "a phase thread outlived the build")
    val n = new java.util.concurrent.atomic.AtomicInteger()
    assert(StateRoot.ensure("spec", d)(counted(n)) === root.getAbsolutePath)
    assert(n.get === 1)
  }

  test("the sweep removes only dead-pid roots of the same kind and dataset") {
    assert(ProcessHandle.of(deadPid).isEmpty)
    val livePid = ProcessHandle.current.parent.get.pid
    val d = dataDir()
    val pre = StateRoot.prefix("canon", d)
    def mk(name: String): File = {
      val f = new File(tmp, name); new File(f, "rel").mkdirs(); f
    }
    val deadRoot = mk(pre + s"p$deadPid")
    val deadStage = mk(pre + s"p$deadPid.build")
    val deadDialRoot = mk(pre + s"k12t2_p$deadPid")
    val liveRoot = mk(pre + s"p$livePid")
    val otherKind = mk(StateRoot.prefix("ivfadc", d) + s"k12_p$deadPid")
    // differs from sf0.01 only where it has a '.' — the regex-quoting case
    val dotted = mk(pre.replace("sf0.01", "sf0x01") + s"p$deadPid")
    try {
      StateRoot.ensure("canon", d)(counted(new java.util.concurrent.atomic.AtomicInteger()))
      assert(!deadRoot.exists && !deadStage.exists && !deadDialRoot.exists,
        "a dead pid's root or stage survived the sweep")
      assert(liveRoot.exists, "a live pid's root was swept")
      assert(otherKind.exists, "a root of another kind was swept")
      assert(dotted.exists, "a root of another dataset was swept ('.' matched unquoted)")
    } finally Seq(liveRoot, otherKind, dotted).foreach { f =>
      new File(f, "rel").delete(); f.delete()
    }
  }

  test("a process killed mid-build leaves a stage the next ensure sweeps, never serves") {
    import scala.jdk.CollectionConverters._
    val d = dataDir()
    val pre = StateRoot.prefix("spec", d)
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx128m",
      "-cp", sys.props("java.class.path"), "graft.StateRootBlockedBuild", d)
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val childPid = proc.pid
    val stage = new File(tmp, pre + s"p$childPid.build")
    val childRoot = new File(tmp, pre + s"p$childPid")
    try {
      // the child prints one line once its partial stage is on disk
      val out = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      val ready = java.util.concurrent.CompletableFuture.supplyAsync(() => out.readLine())
      assert(ready.get(120, java.util.concurrent.TimeUnit.SECONDS) === "staged")
      assert(new File(stage, "half").isFile, "the child's partial stage is not on disk")
      assert(!childRoot.exists, "a blocked build published its root")
    } finally {
      proc.destroyForcibly()
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), "the child outlived destroyForcibly")
    }
    assert(ProcessHandle.of(childPid).isEmpty)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val root = StateRoot.ensure("spec", d)(counted(n))
    assert(n.get === 1, "the partial state was served instead of rebuilt")
    assert(root === new File(tmp, pre + s"p$pid").getAbsolutePath)
    assert(new File(root, "rel").isFile && !new File(root, "half").exists)
    assert(!stage.exists, "the killed process's stage survived the sweep")
    assert(!childRoot.exists)
    new File(root, "rel").delete(); new File(root).delete()
  }
}

/** Child process of the kill test: starts a [[StateRoot.ensure]] build
  * for the data dir in args(0), writes part of its stage, reports
  * "staged" on stdout and blocks until it is killed.
  */
object StateRootBlockedBuild {
  def main(args: Array[String]): Unit = {
    StateRoot.ensure("spec", args(0)) { sp =>
      Files.writeString(new File(sp, "half").toPath, "partial")
      println("staged")
      System.out.flush()
      Thread.sleep(Long.MaxValue)
    }
    ()
  }
}
