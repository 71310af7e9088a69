package graft

import graft.cli.HttpIO
import graft.metrics.RangeMetrics

/** Driver-side utilities: filename datetime (C7/T4), date snapping (T7),
  * the job recorder. */
class UtilSpec extends SparkSpec {

  // reference tests/test_data_load_sqlite.py:19–28
  test("pickLatestCsv picks the newest filename-embedded datetime") {
    val names = Seq(
      "Historia_przejazdow_2025-4-10_16_27_30.csv",
      "Historia_przejazdow_2025-5-24_17_3_13.csv",
      "Historia_przejazdow_2025-5-23_17_2_13.csv")
    val urls = names.map(n => s"https://example.com/$n")
    val Some((url, name)) = HttpIO.pickLatestCsv(urls)
    assert(url.endsWith("Historia_przejazdow_2025-5-24_17_3_13.csv"))
    assert(name === "Historia_przejazdow_2025-5-24_17_3_13.csv")
  }

  test("extractDtFromFilename handles date-only and invalid forms") {
    assert(HttpIO.extractDtFromFilename("x_2025-8-18_18_29_14.csv").isDefined)
    assert(HttpIO.extractDtFromFilename("x_2025-8-18.csv")
      .contains(java.time.LocalDateTime.of(2025, 8, 18, 0, 0)))
    assert(HttpIO.extractDtFromFilename("x_2025-13-45.csv").isEmpty, "invalid date")
    assert(HttpIO.extractDtFromFilename("nodate.csv").isEmpty)
  }

  test("extractCsvUrls finds heading anchors and resolves relative hrefs") {
    val html =
      """<a class="heading" href="/files/a_2025-1-1.csv">A</a>
        |<a class="other" href="/files/b.csv">B</a>
        |<a class="heading" href="/files/c.pdf">C</a>
        |<a class="heading" href="https://x.org/d_2025-1-2.csv">D</a>""".stripMargin
    val urls = HttpIO.extractCsvUrls(html, "https://portal.example.com/page")
    assert(urls === Seq(
      "https://portal.example.com/files/a_2025-1-1.csv",
      "https://x.org/d_2025-1-2.csv"))
  }

  // reference web/js/app.js:79–110 snapping semantics
  test("snapDate before/after/nearest") {
    val dates = Vector("2024-06-05", "2024-06-08", "2024-06-11")
    assert(RangeMetrics.snapDate(dates, "2024-06-08") === Some("2024-06-08"))
    assert(RangeMetrics.snapDate(dates, "2024-06-06", "before") === Some("2024-06-05"))
    assert(RangeMetrics.snapDate(dates, "2024-06-06", "after") === Some("2024-06-08"))
    assert(RangeMetrics.snapDate(dates, "2024-06-06") === Some("2024-06-05"))
    assert(RangeMetrics.snapDate(dates, "2024-06-10") === Some("2024-06-11"))
    assert(RangeMetrics.snapDate(dates, "2024-01-01") === Some("2024-06-05"))
    assert(RangeMetrics.snapDate(dates, "2025-01-01") === Some("2024-06-11"))
    assert(RangeMetrics.snapDate(Vector.empty, "2024-01-01") === None)
  }

  test("CsvSink writes a header'd single CSV") {
    import spark.implicits._
    val out = tmpDir("csv") + "/interim"
    graft.store.CsvSink.writeInterim(Seq((1, "a"), (2, "b")).toDF("id", "v"), out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = java.nio.file.Files.readAllLines(files.head.toPath)
    assert(lines.get(0) === "id,v" && lines.size() === 3)
  }

  test("nowIso has seconds precision and a zone offset") {
    val ts = HttpIO.nowIso()
    assert(ts.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}[+-]\d{2}:\d{2}"""))
  }

  // S7 — the full download contract against a loopback JDK HttpServer
  // (no external network): skip-if-nonempty-exists never touches the
  // wire, retryable 503s back off and then succeed, and the payload
  // lands under the url's filename (reference data_load_sqlite.py:85–97).
  test("downloadFile: skip-if-exists, 503 retry/backoff, then success") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.csv", exchange => {
      val n = hits.incrementAndGet()
      if (n <= 2) { // two retryable failures, then content
        exchange.sendResponseHeaders(503, -1)
      } else {
        val body = "a,b\n1,2\n".getBytes("UTF-8")
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      }
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data.csv"
      val dir = tmpDir("dl")

      // skip path: pre-existing nonempty target short-circuits (no hit)
      val pre = new java.io.File(dir, "data.csv")
      java.nio.file.Files.writeString(pre.toPath, "cached")
      assert(HttpIO.downloadFile(url, dir).length() === 6)
      assert(hits.get() === 0, "existing nonempty file must skip the wire")

      // retry path: empty file does NOT count as present; two 503s are
      // retried with backoff, third attempt lands the payload
      java.nio.file.Files.writeString(pre.toPath, "")
      val got = HttpIO.downloadFile(url, dir)
      assert(hits.get() === 3, s"expected 2 retries + success, got ${hits.get()} hits")
      assert(java.nio.file.Files.readString(got.toPath) === "a,b\n1,2\n")
    } finally server.stop(0)
  }

  test("JobStats.measure records its body's jobs, child threads included, " +
    "and restores the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "outer desc")
    try {
      val outsider = new Thread(() => { sc.parallelize(1 to 4, 4).count(); () })
      val (n, run) = JobStats.measure(spark) {
        val child = new Thread(() => { sc.parallelize(1 to 4, 4).count(); () })
        child.start(); outsider.start(); child.join()
        sc.parallelize(1 to 4, 2).count()
      }
      outsider.join()
      assert(n === 4 && run.jobs.size === 2 && run.stages.size === 2, run)
      assert(sc.getLocalProperty("spark.jobGroup.id") === "outer")
      assert(sc.getLocalProperty("spark.job.description") === "outer desc")
    } finally sc.clearJobGroup()
  }
}
