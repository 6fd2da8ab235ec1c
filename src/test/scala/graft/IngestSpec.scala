package graft

import graft.util.Ingest
import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite

/** Ingest utility semantics (A3 single-root strip, A35 markers). */
class IngestSpec extends AnyFunSuite with TempDirs {

  private def makeZip(entries: Map[String, String]): File = {
    val f = tempDir("ingest").resolve("archive.zip").toFile
    val z = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes)
      z.closeEntry()
    }
    z.close()
    f
  }

  private def tmpDir() =
    tempDir("ingest-out").toFile

  test("single-root archives are extracted with the root stripped") {
    val zip = makeZip(Map(
      "dataset/a/x.txt" -> "one", "dataset/b/y.txt" -> "two"))
    val dest = tmpDir()
    assert(Ingest.unzipWithRootStrip(zip, dest) == 2)
    assert(new File(dest, "a/x.txt").exists())
    assert(new File(dest, "b/y.txt").exists())
    assert(!new File(dest, "dataset").exists())
  }

  test("multi-root archives keep their layout") {
    val zip = makeZip(Map("a/x.txt" -> "one", "b/y.txt" -> "two"))
    val dest = tmpDir()
    Ingest.unzipWithRootStrip(zip, dest)
    assert(new File(dest, "a/x.txt").exists())
    assert(new File(dest, "b/y.txt").exists())
  }

  test("zip-slip entries are rejected") {
    // two roots so no root-strip applies; the first entry escapes dest
    val zip = makeZip(Map("a/../../evil.txt" -> "nope", "b/ok.txt" -> "fine"))
    val dest = tmpDir()
    intercept[IllegalArgumentException] {
      Ingest.unzipWithRootStrip(zip, dest)
    }
    assert(!new File(dest.getParentFile, "evil.txt").exists())
  }

  test("completion marker makes work idempotent, only written on success") {
    val marker = new File(tmpDir(), "done.marker")
    var runs = 0
    assert(Ingest.withCompletionMarker(marker) { runs += 1 })
    assert(!Ingest.withCompletionMarker(marker) { runs += 1 })
    assert(runs == 1 && marker.exists())

    val marker2 = new File(tmpDir(), "fail.marker")
    intercept[RuntimeException] {
      Ingest.withCompletionMarker(marker2) { throw new RuntimeException("boom") }
    }
    assert(!marker2.exists(), "marker must not exist after failed work")
  }

  test("download: streams, resumes via Range, survives a flaky server") {
    import com.sun.net.httpserver.HttpServer
    val content = ("0123456789" * 500).getBytes // 5000 bytes
    val rangesSeen = scala.collection.mutable.ArrayBuffer[String]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.bin", ex => {
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      range.foreach(rangesSeen += _)
      range match {
        case Some(r) => // honor bytes=N-
          val from = r.stripPrefix("bytes=").stripSuffix("-").toInt
          ex.getResponseHeaders.add("Content-Range",
            s"bytes $from-${content.length - 1}/${content.length}")
          ex.sendResponseHeaders(206, content.length - from)
          ex.getResponseBody.write(content, from, content.length - from)
          ex.close()
        case None =>
          ex.sendResponseHeaders(200, content.length)
          ex.getResponseBody.write(content)
          ex.close()
      }
    })
    server.createContext("/gone", ex => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val dir = tmpDir()
    try {
      // plain download
      val dest = new File(dir, "data.bin")
      assert(Ingest.download(
        java.net.URI.create(s"$base/data.bin"), dest) == 5000L)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(dest.toPath), content))

      // resume: a pre-existing .part means the request carries Range and
      // only the tail is transferred (server returns 206)
      val dest2 = new File(dir, "resume.bin")
      java.nio.file.Files.write(new File(dir, "resume.bin.part").toPath,
        java.util.Arrays.copyOf(content, 2000))
      assert(Ingest.download(
        java.net.URI.create(s"$base/data.bin"), dest2) == 5000L)
      assert(rangesSeen.lastOption.contains("bytes=2000-"))
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(dest2.toPath), content))

      // hard failure surfaces after retries, no dest file appears
      val dest3 = new File(dir, "gone.bin")
      intercept[java.io.IOException] {
        Ingest.download(java.net.URI.create(s"$base/gone"), dest3)
      }
      assert(!dest3.exists())
    } finally server.stop(0)
  }

  test("DAG runner: topo order, idempotent re-run, partial resume") {
    val dir = tmpDir()
    val log = scala.collection.mutable.ArrayBuffer[String]()
    def tasks = Seq(
      Ingest.Task("extract", new File(dir, "extract.marker"),
        deps = Seq("download"))(() => log += "extract"),
      Ingest.Task("download", new File(dir, "download.marker"))(
        () => log += "download"),
      Ingest.Task("train", new File(dir, "train.marker"),
        deps = Seq("extract"))(() => log += "train"))

    // first run: dependencies before dependents, regardless of seq order
    assert(Ingest.runDag(tasks) == Seq("download", "extract", "train"))
    assert(log.toSeq == Seq("download", "extract", "train"))

    // second run: everything marked -> zero work
    assert(Ingest.runDag(tasks).isEmpty && log.size == 3)

    // partial resume: drop one marker, only that task re-runs
    new File(dir, "extract.marker").delete()
    assert(Ingest.runDag(tasks) == Seq("extract"))

    // cycles fail fast
    val cyc = Seq(
      Ingest.Task("a", new File(dir, "a.marker"), deps = Seq("b"))(() => ()),
      Ingest.Task("b", new File(dir, "b.marker"), deps = Seq("a"))(() => ()))
    intercept[IllegalArgumentException] { Ingest.runDag(cyc) }
  }
}
