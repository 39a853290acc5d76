package cdcbench

import java.io.{BufferedReader, FileOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

/** The restart_tail load generator, run as its own process so its writes
  * compete with the consumer the way a database's binlog writer does.
  *
  * Usage: TailWriter <seed> <keys> <backlog> <events> <ratePerSec> <spool> <report>
  *
  * It replays the seeded event stream past the `backlog` events already in
  * the spool, renders the next `events` envelopes, prints `ready`, and
  * waits for one stdin line `go <t0 epoch ms>`. Event i (0-based) is due at
  * t0 + i/rate; one thread appends it as one whole line per `write` call,
  * open loop: a late write never shifts the schedule of the next. The
  * report records t0, the count written and the writer's own lateness. */
object TailWriter {
  def main(args: Array[String]): Unit = {
    val Array(seed, keys, backlog, events, rate) = args.take(5)
    val spool = Paths.get(args(5)); val report = Paths.get(args(6))
    val gen = new CdcGen.Tail(seed.toLong, keys.toInt)
    gen.skip(backlog.toLong)
    val n = events.toInt
    val lines = Array.fill(n)((gen.next() + "\n").getBytes(UTF_8))
    println("ready"); System.out.flush()
    val cmd = new BufferedReader(new InputStreamReader(System.in, UTF_8)).readLine()
    require(cmd != null && cmd.startsWith("go "), s"expected 'go <t0>', got '$cmd'")
    val t0Ms = cmd.substring(3).trim.toLong
    val periodNs = 1e9 / rate.toDouble
    // epoch-anchored schedule on the monotonic clock
    val t0Ns = System.nanoTime() + (t0Ms - System.currentTimeMillis()) * 1000000L
    val lateMs = new Array[Double](n)
    val out = new FileOutputStream(spool.toFile, true)
    try {
      var i = 0
      while (i < n) {
        val due = t0Ns + (i * periodNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        out.write(lines(i))
        lateMs(i) = (System.nanoTime() - due) / 1e6
        i += 1
      }
    } finally out.close()
    java.util.Arrays.sort(lateMs)
    val p99 = if (n == 0) 0.0 else lateMs(math.min(n - 1, (0.99 * n).toInt))
    Files.writeString(report,
      s"""{"t0_ms":$t0Ms,"written":$n,"late_p99_ms":$p99,"late_max_ms":${if (n == 0) 0.0 else lateMs(n - 1)}}""")
  }
}
