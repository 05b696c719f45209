package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

import graft.io.{FileWriter, GroupSink, Writer}

/** Fault-injection for the Writer contract (Writer.scala): a write either
  * materializes the complete object or throws; thrown errors surface
  * through GroupSink as job failures (never a silent skip); and the
  * destination tree never exposes a truncated object under a final name.
  * The s3a path cannot run in this sandbox — these specs exercise the
  * same retry/atomicity contract the object-store path relies on, through
  * the file backend.
  */
class WriterFaultSpec extends SparkSpec {

  private def freshDir(): String =
    SparkSpec.tempDir("graft-writerfault").toString

  private def input = df("feature STRING, timestamp LONG, value DOUBLE", Seq(
    Row("rain", 1L, 1.0), Row("rain", 2L, 2.0),
    Row("temp", 1L, 3.0), Row("temp", 2L, 4.0)))

  private def writeAll(w: Writer): Long =
    GroupSink.writeGroups(input, Seq("feature"), Seq("timestamp"),
      (key, rows) => {
        val idx = Seq(1, 2)
        (s"${key.getString(0)}.csv",
          GroupSink.renderCsv(Seq("timestamp", "value"), idx, rows))
      },
      w)

  private def listFiles(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).map[String](_.getFileName.toString)
        .toArray.toSeq.map(_.toString).sorted
      finally s.close()
    }
  }

  test("a failing writer surfaces as a job failure, not a silent skip") {
    val dir = freshDir()
    WriterFaultSpec.failuresLeft.set(1000000) // every write throws
    val e = intercept[Exception](writeAll(FlakyWriter(dir)))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("injected writer fault")),
      s"writer error must propagate, got: $e")
    // nothing may be visible under a final name — no truncated CSVs, no
    // leftover temp files
    assert(listFiles(dir).isEmpty, s"failed write left files: ${listFiles(dir)}")
  }

  test("fail-then-succeed: retry of the same write converges byte-exactly") {
    val dir = freshDir()
    // the first write attempt of the run throws (a throttled PUT, a
    // dropped connection); the sink's task fails and the job surfaces it
    WriterFaultSpec.failuresLeft.set(1)
    intercept[Exception](writeAll(FlakyWriter(dir)))
    // a re-run (the cluster's task retry, compressed to a driver-level
    // retry here: local[n] runs with task maxFailures=1) re-writes every
    // object; full-object overwrites are idempotent so the second pass
    // converges regardless of which objects the failed pass completed
    val n = writeAll(FlakyWriter(dir))
    assert(n === 2)
    assert(listFiles(dir) === Seq("rain.csv", "temp.csv"))
    val rain = new String(Files.readAllBytes(Paths.get(dir, "rain.csv")))
    assert(rain === "timestamp,value\n1,1.0\n2,2.0\n")
  }

  test("FileWriter publishes atomically: overwrite replaces whole objects, no temp residue") {
    val dir = freshDir()
    val w = FileWriter(dir)
    w.write("timestamp,value\n1,999.0\n", "rain.csv") // stale prior content
    val n = writeAll(w)
    assert(n === 2)
    // the stale object is REPLACED (never appended/merged), and no
    // .inprogress temp survives a successful pass
    val rain = new String(Files.readAllBytes(Paths.get(dir, "rain.csv")))
    assert(rain === "timestamp,value\n1,1.0\n2,2.0\n")
    assert(listFiles(dir) === Seq("rain.csv", "temp.csv"))
    assert(!listFiles(dir).exists(_.contains("inprogress")))
  }

  test("a writer crash between body and publish leaves no final-name object") {
    // simulates the torn-write window the temp+rename design closes: the
    // body is fully staged but the writer dies before publishing. The
    // final name must not exist; only an ignorable temp may remain.
    val dir = freshDir()
    val torn = new Writer {
      def write(body: Array[Byte], path: String): Unit = {
        val p = Paths.get(dir, path)
        Files.createDirectories(p.getParent)
        Files.write(p.resolveSibling(p.getFileName.toString + ".inprogress-test"),
          body.take(body.length / 2))
        throw new java.io.IOException("injected crash before publish")
      }
    }
    intercept[Exception](writeAll(torn))
    val finals = listFiles(dir).filterNot(_.contains("inprogress"))
    assert(finals.isEmpty, s"torn write published a final object: $finals")
  }

  test("HadoopFsWriter rawLocal: same bytes, no .crc sidecars, file: only") {
    import java.nio.file.{Files, Paths}
    val checked = SparkSpec.tempDir("graft-wf-crc").toString
    val raw = SparkSpec.tempDir("graft-wf-raw").toString
    val body = "tile-bytes".getBytes("UTF-8")
    graft.io.HadoopFsWriter(s"file:$checked").write(body, "a/t.bin")
    graft.io.HadoopFsWriter(s"file:$raw", rawLocal = true).write(body, "a/t.bin")
    // identical object bytes either way
    assert(Files.readAllBytes(Paths.get(checked, "a/t.bin")).toSeq === body.toSeq)
    assert(Files.readAllBytes(Paths.get(raw, "a/t.bin")).toSeq === body.toSeq)
    // the checksummed default writes a .crc sidecar per object (the
    // measured 2x-creates fan-out tax); rawLocal writes none
    def crcs(d: String) = Files.walk(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".crc")).toSeq
    assert(crcs(checked).nonEmpty, "expected the default LocalFileSystem sidecar")
    assert(crcs(raw).isEmpty, s"rawLocal still wrote sidecars: ${crcs(raw)}")
    // non-file schemes ignore the flag (same resolved filesystem class):
    // equality of the case class is config-only, so just assert the flag
    // leaves an s3a writer constructible without touching fs resolution
    assert(graft.io.HadoopFsWriter("s3a://bkt", rawLocal = true).baseUri
      === "s3a://bkt")
  }
}

/** Shared mutable failure budget: local-mode executors share the JVM, so a
  * static countdown makes "the first write of the run throws" expressible
  * without distributed state. */
object WriterFaultSpec {
  val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Decorator injecting transient faults ahead of a real [[FileWriter]]:
  * while the shared budget is positive, write() throws BEFORE touching the
  * destination (the common S3 failure mode — the PUT never happened). */
final case class FlakyWriter(dir: String) extends Writer {
  private val inner = FileWriter(dir)
  def write(body: Array[Byte], path: String): Unit = {
    if (WriterFaultSpec.failuresLeft.getAndDecrement() > 0)
      throw new java.io.IOException(s"injected writer fault for $path")
    inner.write(body, path)
  }
}
