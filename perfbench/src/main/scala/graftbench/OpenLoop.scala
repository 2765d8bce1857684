package graftbench

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.collection.mutable
import java.util.concurrent.locks.LockSupport

/** Clock readings (System.nanoTime) of one open-loop request. */
final case class Sample(index: Int, due: Long, dispatched: Long, sent: Long,
                        done: Long, ok: Boolean) {
  /** Due time to last byte: a stall anywhere (generator, client queue,
    * server) is charged to every request that was due during it. */
  def latencyNs: Long = done - due
  /** Due time to the moment a client thread sent it. */
  def clientWaitNs: Long = sent - due
  /** How late the generator handed it over. */
  def lateNs: Long = dispatched - due
  /** Sent to last byte: what the server and transport took. */
  def serviceNs: Long = done - sent
}

/** A dashboard client: it refreshes every `periodNs`, sending `perTick`
  * requests at once over a pool of `clients` threads (each with its own
  * keep-alive connection), and charges each request from its refresh's
  * due time. A refresh is due one period after the last one was due, or,
  * if that one is still running then, the moment it ends: like a fixed
  * trigger, a late refresh fires at once and none queue up. */
object OpenLoop {

  /** Refresh for `ticks` periods, or, given `stop`, until it says so, at
    * most `ticks` times (a period of 0 refreshes back to back); `send(i)`
    * performs request i (of refresh `i / perTick`) and says whether it
    * succeeded. Returns the samples of the requests sent, in index order,
    * after every one has ended. */
  def ticked(ticks: Int, perTick: Int, periodNs: Long, clients: Int,
             stop: Option[() => Boolean] = None)(send: Int => Boolean): IndexedSeq[Sample] = {
    val pool = Executors.newFixedThreadPool(clients)
    val out = mutable.ArrayBuffer[Sample]()
    val start = System.nanoTime() + 5000000L
    val end = start + ticks * periodNs
    try {
      var m = 0
      var due = start
      while (m < ticks && stop.fold(due < end)(!_())) {
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val dispatched = now
        val slots = new Array[Sample](perTick)
        val done = new CountDownLatch(perTick)
        for (j <- 0 until perTick) {
          val i = m * perTick + j
          val d = due
          pool.execute(() => {
            val sent = System.nanoTime()
            val ok = try send(i) catch { case _: Throwable => false }
            slots(j) = Sample(i, d, dispatched, sent, System.nanoTime(), ok)
            done.countDown()
          })
        }
        done.await(60, TimeUnit.SECONDS)
        // a request still outstanding after that wait counts as failed
        out ++= slots.indices.map(j => Option(slots(j)).getOrElse(
          Sample(m * perTick + j, due, dispatched, dispatched, System.nanoTime(), ok = false)))
        m += 1
        due = math.max(due + periodNs, System.nanoTime())
      }
    } finally {
      pool.shutdown()
      if (!pool.awaitTermination(60, TimeUnit.SECONDS)) pool.shutdownNow()
    }
    out.toIndexedSeq
  }
}
