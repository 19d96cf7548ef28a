package graft.session

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Values built at most once per (session, dir, tag): the shared
  * relations and model fits that several queries consume.
  *
  * The maps only create cells; each build runs under its own cell's
  * lock, never under a map lock. So a build may call other memoized
  * builds, concurrent callers of one cell wait for a single build, and
  * a build that throws leaves its cell empty for the next call to
  * retry. A cell records its build seconds excluding the nested
  * memoized builds it triggered, so the per-tag figures add up.
  *
  * A session's cells live as long as its SparkContext: they are dropped
  * on the first access after the context is stopped.
  */
object SessionMemo {
  private final class Cell {
    @volatile var value: Option[AnyRef] = None
    @volatile var seconds = 0.0
  }

  private val sessions =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[(String, String), Cell]]()
  // seconds of the memoized builds that finished inside the build
  // running on this thread
  private val nestedSeconds = ThreadLocal.withInitial[Double](() => 0.0)

  def apply[A <: AnyRef](s: SparkSession, dir: String, tag: String)(build: => A): A = {
    sessions.keySet.removeIf(_.sparkContext.isStopped)
    val cell = sessions.computeIfAbsent(s, _ => new ConcurrentHashMap())
      .computeIfAbsent((dir, tag), _ => new Cell)
    cell.value.getOrElse(cell.synchronized {
      cell.value.getOrElse {
        val outer = nestedSeconds.get
        nestedSeconds.set(0.0)
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        try {
          val v = build
          cell.seconds = elapsed - nestedSeconds.get
          cell.value = Some(v)
          v
        } finally nestedSeconds.set(outer + elapsed)
      }
    }).asInstanceOf[A]
  }

  /** ((dir, tag), build seconds) of every cell this session has built. */
  def builds(s: SparkSession): Seq[((String, String), Double)] =
    Option(sessions.get(s)).toSeq.flatMap { cells =>
      val out = Seq.newBuilder[((String, String), Double)]
      cells.forEach((k, c) => if (c.value.isDefined) out += k -> c.seconds)
      out.result()
    }
}
