package graft.core

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.ParquetTableIO

/** The symlink pointer behind `_current`, the per-spec watermark and
  * the change-feed cursor. No Spark: snapshot dirs are made by hand.
  */
class PointerSpec extends AnyFunSuite with Matchers {

  private def tmpDir: Path = Files.createTempDirectory("ptr")

  /** Stage an empty snapshot dir and publish it. */
  private def commit(io: ParquetTableIO): Unit = {
    val s = io.stage()
    Files.createDirectories(s.vDir)
    io.commitStaged(s)
  }

  private def target(p: Path): Path = p.resolveSibling(Files.readSymbolicLink(p))

  private def siblings(dir: Path, name: String): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith(name + "@"))
    finally s.close()
  }

  test("publish/read round-trip; outside readers still read the value as a file") {
    val p = tmpDir.resolve("ptr")
    Pointer.read(p) shouldBe None
    Pointer.publish(p, "v-000000001-abcd1234")
    Files.isSymbolicLink(p) shouldBe true
    Pointer.read(p) shouldBe Some("v-000000001-abcd1234")
    Files.readString(p) shouldBe "v-000000001-abcd1234"
    an[IllegalArgumentException] should be thrownBy Pointer.publish(p, "")
    an[IllegalArgumentException] should be thrownBy Pointer.publish(p, "a/b")
  }

  test("truncating or deleting the sibling file does not change what the engine reads") {
    val io = new ParquetTableIO(tmpDir.resolve("t").toString)
    commit(io)
    val live = io.currentDir
    val ptr = java.nio.file.Paths.get(io.path, "_current")
    Files.writeString(target(ptr), "") // truncate
    io.currentDir shouldBe live
    Files.delete(target(ptr))
    io.currentDir shouldBe live

    val wm = tmpDir.resolve("wm.log")
    Watermark.write(wm.toString, 1705314225678L)
    Files.writeString(target(wm), "")
    Watermark.read(wm.toString) shouldBe Some(1705314180000L)
    Files.delete(target(wm))
    Watermark.read(wm.toString) shouldBe Some(1705314180000L)
  }

  test("a legacy regular-file _current is read, then converted by the next commit") {
    val root = tmpDir.resolve("t")
    Files.createDirectories(root.resolve("v-000000001-abcd1234"))
    Files.writeString(root.resolve("_current"), "v-000000001-abcd1234\n")
    val io = new ParquetTableIO(root.toString)
    io.currentDir shouldBe Some(root.resolve("v-000000001-abcd1234").toString)
    io.currentVersion shouldBe 1L
    commit(io)
    Files.isSymbolicLink(root.resolve("_current")) shouldBe true
    io.currentVersion shouldBe 2L
    // the replaced legacy snapshot survives as the grace window
    Files.isDirectory(root.resolve("v-000000001-abcd1234")) shouldBe true
  }

  test("a blank or non-snapshot pointer fails loudly, naming the store") {
    Seq("", "  \n", "garbage").foreach { bad =>
      val root = tmpDir.resolve("t")
      Files.createDirectories(root)
      Files.writeString(root.resolve("_current"), bad)
      val e = intercept[IllegalStateException](new ParquetTableIO(root.toString).currentDir)
      e.getMessage should include(root.toString)
    }
  }

  test("after 20 commits at most 2 pointer siblings remain") {
    val io = new ParquetTableIO(tmpDir.resolve("t").toString)
    (1 to 20).foreach(_ => commit(io))
    io.currentVersion shouldBe 20L
    val root = java.nio.file.Paths.get(io.path)
    siblings(root, "_current").size should be <= 2
    Files.readString(root.resolve("_current")) shouldBe
      java.nio.file.Paths.get(io.currentDir.get).getFileName.toString

    val dir = tmpDir
    (1 to 20).foreach(i => Watermark.write(dir.resolve("wm").toString, i * 60000L))
    Watermark.read(dir.resolve("wm").toString) shouldBe Some(20 * 60000L)
    siblings(dir, "wm").size should be <= 2
  }

  test("cleanup of pointer wm.a never touches wm.a.b's siblings") {
    val dir = tmpDir
    val (a, ab) = (dir.resolve("wm.a").toString, dir.resolve("wm.a.b").toString)
    Watermark.write(ab, 60000L)
    (1 to 10).foreach(i => Watermark.write(a, i * 120000L))
    Watermark.read(ab) shouldBe Some(60000L)
    Files.readString(dir.resolve("wm.a.b")) shouldBe Watermark.encode(60000L)
    Watermark.read(a) shouldBe Some(1200000L)
    siblings(dir, "wm.a.b").size shouldBe 1
  }

  test("a reader never fails while two writers publish concurrently") {
    val p = tmpDir.resolve("ptr")
    Pointer.publish(p, "w0-0")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def thread(body: => Unit) = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    val reader = thread {
      while (!stop.get) seen.add(Pointer.read(p).getOrElse("<none>"))
    }
    val writers = (1 to 2).map(w => thread((1 to 200).foreach(i => Pointer.publish(p, s"w$w-$i"))))
    writers.foreach(_.join())
    stop.set(true)
    reader.join()
    errors.toArray.toSeq shouldBe empty
    seen.toArray.toSeq.map(_.toString).filterNot(_.matches("w[0-2]-\\d+")) shouldBe empty
    Pointer.read(p).get should (equal("w1-200") or equal("w2-200"))
  }
}
