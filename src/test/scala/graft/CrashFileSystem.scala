package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under a scheme of its own, `crash://`, that
  * counts its mutating calls (`create`, `rename`, `delete`, `mkdirs`) and
  * can fail one of them: `crash:///a/b` is the local file `/a/b`, so a
  * test sets up and checks a directory through `file:` paths and runs
  * only the step under test through `crash:` paths.
  *
  * The k-th call throws an `IOException` before it touches the disk,
  * then the file system is disarmed. An exception models a crash only up
  * to the cleanup that runs on the throw path: Spark's `abortJob`, for
  * one, still deletes a failed write's `_temporary` directory, which a
  * killed process would leave behind. Spark filters `_`-prefixed
  * directories out of every read, so what a crash leaves beyond that is
  * what the exception leaves.
  */
class CrashFileSystem extends RawLocalFileSystem {
  import CrashFileSystem.call

  override def getUri: URI = CrashFileSystem.Root
  override def getScheme: String = CrashFileSystem.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    call("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    call("create")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { call("rename"); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { call("delete"); super.delete(p, recursive) }
  override def mkdirs(f: Path): Boolean = { call("mkdirs"); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    call("mkdirs")
    super.mkdirs(f, permission)
  }
}

object CrashFileSystem {
  val Scheme = "crash"
  private val Root = URI.create(s"$Scheme:///")

  private val calls = new AtomicInteger
  @volatile private var crashAt = 0
  @volatile private var hook: Option[(String, () => Unit)] = None
  private val hooked = new AtomicBoolean

  /** Count a mutating call: run the hook at the first call named as it
    * is, or throw if this is the armed call.
    */
  private def call(op: String): Unit = {
    hook.foreach { case (on, run) => if (on == op && hooked.compareAndSet(false, true)) run() }
    if (calls.incrementAndGet() == crashAt) throw new IOException(s"injected crash at $op")
  }

  /** Make `crash://` resolvable in `spark`'s Hadoop configuration; each
    * lookup gets a new instance, and the counters are shared.
    */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[CrashFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** The `crash:` path of the absolute local path `local`. */
  def path(local: String): String = s"$Scheme://$local"

  /** The mutating calls `body` makes through `crash:` paths. */
  def callsOf(body: => Unit): Int = armed(0, None)(body)

  /** Run `body` with its k-th mutating call failing: true if `body`
    * threw, false if it made fewer calls or caught the failure. A
    * failure before the k-th call is rethrown.
    */
  def crashingAt(k: Int)(body: => Unit): Boolean = {
    require(k > 0)
    try { armed(k, None)(body); false }
    catch { case _: Exception if calls.get >= k => true }
  }

  /** Run `body`, running `run` at its first mutating call named `op`. */
  def hookedAt(op: String)(run: => Unit)(body: => Unit): Unit = {
    armed(0, Some(op -> (() => run)))(body)
    require(hooked.get, s"no $op call to hook")
  }

  private def armed(k: Int, h: Option[(String, () => Unit)])(body: => Unit): Int = synchronized {
    calls.set(0)
    hooked.set(false)
    crashAt = k
    hook = h
    try { body; calls.get } finally { crashAt = 0; hook = None }
  }
}
