package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

/** Load generator. Every request's latency runs from when it is sent
  * to the end of its response body; a failed or mismatched response is
  * kept with its failure and later counts as an infinite latency.
  */
object Load {

  final case class Outcome(
      kind: String, format: String, latMs: Double, ttfbMs: Double, bytes: Long,
      cachedFind: Boolean, failure: Option[String])

  def exec(base: String, it: Item, startNs: Long): Outcome = execResp(base, it, startNs)._1

  /** [[exec]], also returning the response when there was one. */
  def execResp(base: String, it: Item, startNs: Long): (Outcome, Option[Http.Resp]) = {
    val r = try Right(Http.send(base, it.req)) catch { case e: Exception => Left(e.toString) }
    val end = System.nanoTime()
    r match {
      case Right(resp) =>
        val fail = try it.check(resp) catch { case e: Exception => Some(s"check threw $e") }
        (Outcome(it.kind, it.req.format, (end - startNs) / 1e6, resp.ttfbNs / 1e6, resp.body.length.toLong,
          resp.cachedFind, fail), Some(resp))
      case Left(err) =>
        (Outcome(it.kind, it.req.format, (end - startNs) / 1e6, 0.0, 0L, cachedFind = false, Some(err)), None)
    }
  }

  /** Closed loop: `clients` threads, each sending its next request as
    * soon as the previous response has arrived, until `seconds` pass.
    */
  def closed(base: String, next: () => Item, clients: Int, seconds: Double): Seq[Outcome] = {
    val out = ArrayBuffer.empty[Outcome]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(clients)
    (1 to clients).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (System.nanoTime() < deadline) {
          val it = next.synchronized(next())
          val o = exec(base, it, System.nanoTime())
          out.synchronized(out += o)
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination((seconds + 150).toLong, TimeUnit.SECONDS)
    out.synchronized(out.toVector)
  }

  /** Zipf(s) sampler over ranks `0 until n`. */
  final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
