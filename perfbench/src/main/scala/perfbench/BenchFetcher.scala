package perfbench

import graft.ingest.HttpFetcher

/** The benchmark's HTTP boundary: serves the current round's generated
  * discovery payload to the NYC adapter and answers robots.txt with 404
  * (allowed, as the reference treats a missing file). Each request is
  * reported to the tracer as a fetch span with its body size, which is
  * where the per-collect request, byte and fetch-time counts come from.
  */
final class BenchFetcher(tracer: Option[Tracer]) extends HttpFetcher {

  @volatile var payload: String = "[]"

  override def get(url: String, headers: Map[String, String])
      : Either[String, (Int, String)] = {
    val t0 = tracer.map(_.now())
    val out =
      if (url.endsWith("/robots.txt")) Right((404, ""))
      else if (url.contains("/api/views/metadata/v1")) Right((200, payload))
      else Left(s"no generated payload for GET $url")
    for (t <- tracer; start <- t0)
      t.fetch(Interval(start, t.now()), out.map(_._2.length.toLong).getOrElse(0L))
    out
  }

  override def head(url: String, headers: Map[String, String])
      : Either[String, Int] = Left(s"no generated payload for HEAD $url")
}
