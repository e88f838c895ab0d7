package graft.ops

import java.io.InputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Remote-source staging (SURVEY.md §2.1 S2) — the reference reads its two
  * feeds straight from HTTPS URLs configured in
  * /root/reference/src/main/resources/application.properties:1-2 (wired to
  * the reader at NytimesBatchProcessorApplication.kt:210-212).
  *
  * Spark-first mapping: a distributed engine should NOT stream a remote
  * single-connection HTTP body through a driver-side reader mid-job — the
  * fetch is a sequential, failure-prone network step and the job is a
  * parallel scan. So S2 becomes a STAGING step: fetch each URL to a local
  * (or DFS) drop directory ATOMICALLY (write to a dot-prefixed temp file,
  * then rename — file sources ignore dotfiles, so a half-written download
  * is never picked up), then let the normal file source scan it.
  * Combined with [[Ingest.ingestNewFiles]]'s file ledger this reproduces
  * the reference's cron loop: fetch feeds, ingest whatever is new.
  *
  * The HTTP transport is injectable (`fetch`), defaulting to the JDK
  * HttpClient; tests run against an in-memory fetcher (this sandbox has
  * no egress — documented limitation, the transport is standard JDK).
  */
object Staging {

  type Fetcher = String => InputStream

  /** Default transport: JDK HttpClient, following redirects (the NYT
    * GitHub raw URLs redirect), streaming the body (no full-body
    * buffering in memory). */
  def httpFetcher(timeoutSeconds: Long = 60): Fetcher = { url =>
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .build()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    if (resp.statusCode() / 100 != 2)
      sys.error(s"GET $url failed: HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Stage `name -> url` feeds into `destDir`, atomically; returns
    * `name -> local path` for handing to a file(-stream) source. Each
    * download goes to `.<name>.tmp` first and is renamed into place only
    * when complete, so a concurrently running ingest never reads a
    * partial file. Failures clean up their temp file and propagate. */
  def stage(feeds: Map[String, String], destDir: String,
            fetch: Fetcher = httpFetcher()): Map[String, String] = {
    val dir = Paths.get(destDir)
    Files.createDirectories(dir)
    feeds.map { case (name, url) =>
      require(!name.contains("/"), s"feed name '$name' must be a filename")
      val tmp = dir.resolve(s".$name.tmp")
      val dest = dir.resolve(name)
      val in = fetch(url)
      try {
        Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
        atomicMove(tmp, dest)
        name -> dest.toString
      } catch {
        case e: Throwable => Files.deleteIfExists(tmp); throw e
      } finally in.close()
    }
  }

  private def atomicMove(src: Path, dest: Path): Unit =
    try Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      // cross-device fallback (dest on another mount): copy + delete —
      // not atomic, but still temp-named until the final rename attempt
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(src, dest, StandardCopyOption.REPLACE_EXISTING)
    }
}
