package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.Snapshots

class SnapshotsSpec extends AnyFunSuite {

  test("concurrent writers of one manifest both rename cleanly; the file stays whole") {
    val dir = Files.createTempDirectory("graft-manifest")
    val path = dir.resolve("stage/manifest.json").toString
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    def json(writer: Int, i: Int) = Map("writer" -> writer.toString, "i" -> i.toString)
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        start.await()
        for (i <- 0 until 300)
          try Snapshots.writeManifest(path, json(w, i), Map("rows" -> i.toLong), Seq((0, i.toLong)))
          catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, s"${errors.size} write(s) failed, first: ${errors.peek()}")
    // the survivor is one complete write, and no temp file is left behind
    val writer = Snapshots.readManifestField(path, "writer")
    assert(writer.exists(Set("0", "1")), Files.readString(java.nio.file.Paths.get(path)))
    assert(Snapshots.readManifestField(path, "i").contains("299"))
    val left = Files.list(dir.resolve("stage")).toArray.map(_.toString)
    assert(left.toSeq == Seq(path), left.mkString(", "))
  }
}
