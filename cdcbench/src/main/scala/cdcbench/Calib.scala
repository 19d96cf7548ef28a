package cdcbench

/** Host-speed probe, independent of the program and of Spark: threads
  * fold a 32 MB array of longs through a multiply-xor hash. On a shared
  * host the same code runs slower when neighbours take CPU time or memory
  * bandwidth; timing this fixed work around the measured parts of a run
  * lets the run rescale its seconds to a reference host speed, so a
  * change of the host between runs does not read as a change of the
  * program.
  *
  * `run.py` starts it as a JVM of its own, before the benchmark JVM,
  * while that JVM is stopped between setup and the timed operations, and
  * after it exits, so nothing the program leaves running (JIT work, GC
  * cycles, threads) slows it:
  *
  * {{{
  * cdcbench.Calib <samples>    prints one JSON list of seconds
  * }}}
  */
object Calib {
  private val rounds = 24
  private lazy val data = {
    val a = new Array[Long](1 << 22)
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }
  @volatile private var sink = 0L

  /** One pass per core, on as many threads, so contention for any core
    * shows.
    */
  private def once(): Double = {
    val d = data
    val t0 = System.nanoTime()
    val threads = (0 until Runtime.getRuntime.availableProcessors).map { t =>
      val th = new Thread(() => {
        var h = t.toLong
        var r = 0
        while (r < rounds) {
          var i = 0
          while (i < d.length) { h = (h ^ d(i)) * 0x100000001b3L; i += 1 }
          r += 1
        }
        sink += h
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` timed samples, the probe compiled before the first. */
  def main(argv: Array[String]): Unit = {
    (1 to 2).foreach(_ => once())
    println((1 to argv(0).toInt).map(_ => once()).mkString("[", ",", "]"))
  }
}
