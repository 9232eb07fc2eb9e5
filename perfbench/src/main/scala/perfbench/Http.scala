package perfbench

import java.net.{HttpURLConnection, URL}

/** Blocking loopback HTTP client. Each calling thread reuses one
  * keep-alive connection, so the load generator never holds more
  * connections than threads.
  */
object Http {

  /** One request as the load generator issues it. */
  final case class Req(
      path: String,
      body: Option[Array[Byte]] = None,
      format: String = "")

  /** One response: status, the `X-Cached-Find` header, body, and the
    * client-side times (ns) to the first response byte and to the end
    * of the body.
    */
  final case class Resp(status: Int, cachedFind: Boolean, body: Array[Byte], ttfbNs: Long, totalNs: Long)

  def send(base: String, r: Req): Resp = {
    val t0 = System.nanoTime()
    val c = new URL(base + r.path).openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    r.body match {
      case Some(b) =>
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(b.length)
        val o = c.getOutputStream
        o.write(b); o.close()
      case None => c.setRequestMethod("GET")
    }
    val status = c.getResponseCode
    val t1 = System.nanoTime()
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    val t2 = System.nanoTime()
    Resp(status, c.getHeaderField("X-Cached-Find") != null, body, t1 - t0, t2 - t0)
  }
}
