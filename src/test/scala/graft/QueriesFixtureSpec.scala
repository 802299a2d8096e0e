package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The battery's one build-once memo ([[Queries.fixture]]) and the scratch
  * registry behind [[Queries.scratchDir]]. */
class QueriesFixtureSpec extends AnyFunSuite {

  private def fresh(name: String) = s"spec_${name}_${java.util.UUID.randomUUID()}"

  test("one build per (key, sf dir); another sf dir builds again") {
    val key = fresh("memo")
    val builds = new AtomicInteger
    def get(d: String) = Queries.fixture(key, d)(s"$d#${builds.incrementAndGet()}")
    val a = get("/sf/a")
    assert(get("/sf/a") eq a)
    assert(builds.get == 1)
    val b = get("/sf/b")
    assert(b != a && builds.get == 2)
    assert(get("/sf/b") eq b)
    assert(builds.get == 2)
  }

  test("the build is charged to the charge key, not the fixture key") {
    val key = fresh("charged")
    val charge = fresh("row")
    Queries.fixture(key, "/sf/a", charge) { Thread.sleep(2); 1 }
    assert(Queries.harnessNs.containsKey(charge))
    assert(Queries.harnessNs.get(charge).sum() >= 2000000L)
    assert(!Queries.harnessNs.containsKey(key))
    // a hit runs no build and charges nothing
    val before = Queries.harnessNs.get(charge).sum()
    assert(Queries.fixture(key, "/sf/a", charge)(2) == 1)
    assert(Queries.harnessNs.get(charge).sum() == before)
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val key = fresh("throws")
    intercept[IllegalStateException] {
      Queries.fixture[Int](key, "/sf/a")(throw new IllegalStateException("boom"))
    }
    assert(Queries.fixture(key, "/sf/a")(7) == 7)
    assert(Queries.fixture(key, "/sf/a")(8) == 7)
  }

  test("fixtureDir: one written dir under scratchRoot, held for deletion at exit") {
    val key = fresh("dir")
    val writes = new AtomicInteger
    def get() = Queries.fixtureDir(key, "/sf/a") { dir =>
      writes.incrementAndGet()
      Files.write(Paths.get(dir, "part"), "x".getBytes(StandardCharsets.UTF_8))
    }
    val dir = Paths.get(get())
    assert(get() == dir.toString && writes.get == 1)
    assert(dir.getParent == Queries.scratchRoot)
    assert(dir.getFileName.toString.startsWith(s"graft_${key}_fix"))
    assert(Files.isRegularFile(dir.resolve("part")))
    assert(Queries.scratchDirs.contains(dir))
  }

  test("deleteTree removes a nested tree") {
    val root = Files.createTempDirectory(Queries.scratchRoot, "graft_spec_tree")
    Files.createDirectories(root.resolve("a/b"))
    Files.write(root.resolve("a/b/f"), Array[Byte](1))
    Files.write(root.resolve("g"), Array[Byte](2))
    Queries.deleteTree(root)
    assert(!Files.exists(root))
  }

  test("temp dirs and shutdown hooks come only from the scratch registry") {
    // split so this file does not match
    val tempDir = "createTemp" + "Directory"
    val hook = "addShutdown" + "Hook"
    val files: Seq[Path] = {
      val stream = Files.walk(Paths.get("src/main/scala"))
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }
    def uses(needle: String): Map[String, Int] = files.flatMap { f =>
      val n = java.util.regex.Pattern.quote(needle).r
        .findAllIn(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).size
      if (n > 0) Some(f.getFileName.toString -> n) else None
    }.toMap
    // Queries.scratchDir and Bench.ioCalibrate (the disk probe)
    assert(uses(tempDir) == Map("Queries.scala" -> 1, "Bench.scala" -> 1))
    // the one hook that deletes Queries.scratchDirs
    assert(uses(hook) == Map("Queries.scala" -> 1))
  }
}
