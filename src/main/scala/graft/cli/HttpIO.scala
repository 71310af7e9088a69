package graft.cli

import java.io.{File, FileOutputStream}
import java.net.{HttpURLConnection, URI}
import java.time.LocalDateTime

import scala.util.matching.Regex

/** S6–S8/T4/C7/C13 — driver-side IO utilities (reference:
  * src/data_load_sqlite.py:23–97, src/fetch_nextbike.py).
  *
  * These are process-boundary helpers, NOT Spark operators: the portal
  * scrape, latest-file pick and download-with-skip feed the landing
  * directories that the Spark sources read. Retry/backoff mirrors the
  * reference's urllib3 Retry(total=5, backoff 1s).
  */
object HttpIO {

  /** C7 — filename-embedded datetime
    * (`Historia_przejazdow_2025-8-18_18_29_14.csv`), reference :47–58. */
  private val DtRe: Regex =
    raw"(\d{4})-(\d{1,2})-(\d{1,2})(?:_(\d{1,2})_(\d{1,2})_(\d{1,2}))?".r.unanchored

  def extractDtFromFilename(name: String): Option[LocalDateTime] =
    DtRe.findFirstMatchIn(name).flatMap { m =>
      try {
        val Seq(y, mo, d) = (1 to 3).map(i => m.group(i).toInt)
        if (m.group(4) != null)
          Some(LocalDateTime.of(y, mo, d,
            m.group(4).toInt, m.group(5).toInt, m.group(6).toInt))
        else Some(LocalDateTime.of(y, mo, d, 0, 0))
      } catch { case _: Exception => None }
    }

  /** T4 — pick the URL whose filename embeds the latest datetime
    * (reference :71–82). */
  def pickLatestCsv(urls: Seq[String]): Option[(String, String)] =
    urls.flatMap { u =>
      val fn = u.split('/').last
      extractDtFromFilename(fn).map(dt => (dt, u, fn))
    }.sortBy(_._1).lastOption.map { case (_, u, fn) => (u, fn) }

  /** S6 — extract `<a class="heading" href="….csv">` links from the
    * portal HTML (reference :61–68); plain regex, driver-side. */
  def extractCsvUrls(html: String, baseUrl: String): Seq[String] = {
    val a = raw"""(?s)<a\s+[^>]*class="[^"]*heading[^"]*"[^>]*href="([^"]+)"""".r
    a.findAllMatchIn(html).map(_.group(1)).toSeq
      .map(h => URI.create(baseUrl).resolve(h).toString)
      .filter(_.toLowerCase.endsWith(".csv"))
  }

  /** S7 — download with skip-if-nonempty-exists + retry/backoff
    * (reference :85–97, :25–34). */
  def downloadFile(url: String, outDir: String, retries: Int = 5): File = {
    new File(outDir).mkdirs()
    val target = new File(outDir, url.split('/').last)
    if (target.exists() && target.length() > 0) return target
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= retries) {
      try {
        val conn = URI.create(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setConnectTimeout(30000); conn.setReadTimeout(60000)
        try {
          val code = conn.getResponseCode
          if (Set(429, 500, 502, 503, 504).contains(code))
            throw new RuntimeException(s"retryable HTTP $code")
          val in = conn.getInputStream
          val out = new FileOutputStream(target)
          try in.transferTo(out) finally { in.close(); out.close() }
          return target
        } finally conn.disconnect()
      } catch {
        case e: Throwable =>
          lastErr = e; attempt += 1
          if (attempt <= retries) Thread.sleep(1000L * attempt)
      }
    }
    throw new RuntimeException(s"download failed after $retries retries: $url", lastErr)
  }

  /** C13 — local ISO timestamp with zone offset, seconds precision
    * (reference fetch_nextbike.py:29–33). A formatter, not `toString`,
    * which drops `:00` seconds. */
  def nowIso(zone: String = "Europe/Warsaw"): String =
    java.time.ZonedDateTime.now(java.time.ZoneId.of(zone))
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
      .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
}
