package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

/** One answered request of the timed phase. */
final case class Reply(index: Int, status: Int, body: Array[Byte],
                       cached: Boolean, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of the usual percentiles that leaves at least ten
    * samples beyond it; 50 when there are too few samples for any. */
  def highestSupported(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10 - 1e-9).getOrElse(50.0)
}

/** Closed-loop clients over a fixed request list: each client sends its
  * next request only after the previous reply is read to the last byte. */
object Load {
  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

  def get(c: HttpClient, port: Int, path: String): (Int, Array[Byte], Boolean) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .timeout(Duration.ofSeconds(60)).GET().build()
    val r = c.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body(), r.headers().firstValue("X-Carbonapi-Request-Cached").isPresent)
  }

  /** Run `clients` closed loops until `deadlineNs`, each taking the next
    * unsent request index; `send(i)` performs request `i`. Returns the
    * requests answered by the deadline, in completion order, and how many
    * were sent. Requests still in flight at the deadline are not counted;
    * [[drain]] waits for them. Fails if the list runs out. */
  def run(clients: Int, n: Int, deadlineNs: Long)(send: Int => Reply): (Vector[Reply], Int) = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    @volatile var exhausted = false
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadlineNs) {
          val i = next.getAndIncrement()
          if (i >= n) { exhausted = true; go = false }
          else {
            val t0 = System.nanoTime()
            val rep =
              try send(i)
              catch { case e: Exception =>
                System.err.println(s"request $i failed: $e")
                Reply(i, -1, Array.emptyByteArray, false, t0, System.nanoTime())
              }
            if (rep.endNs <= deadlineNs) out.add(rep)
          }
        }
      })
      t.setDaemon(true)
      t.start(); t
    }
    pending ++= threads
    // a reply finished by the deadline is queued within microseconds of it
    val wait = deadlineNs - System.nanoTime() + 20000000L
    if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
    require(!exhausted, s"request list of $n ran out before the deadline")
    import scala.jdk.CollectionConverters._
    (out.asScala.toVector, math.min(n, next.get()))
  }

  private val pending = scala.collection.mutable.ArrayBuffer.empty[Thread]

  /** Wait for every client thread still finishing its last request. */
  def drain(): Unit = { pending.foreach(_.join()); pending.clear() }

  /** Run `body(i)` for i in [0, n) on `threads` threads, in index order. */
  def parallel[T](threads: Int, n: Int)(body: Int => T): Vector[T] = {
    val res = new Array[Any](n)
    val next = new AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          try res(i) = body(i) catch { case e: Throwable => errs.add(e) }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    res.toVector.asInstanceOf[Vector[T]]
  }
}
