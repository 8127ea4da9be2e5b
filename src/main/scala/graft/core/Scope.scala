package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{ExecutionContext, Future}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The one owner of a cached or checkpointed intermediate — carbonapi's
 * per-request fetch memory (ref expr/expr.go:30-125), dropped when the
 * request ends.
 *
 * Lifetime rule: every persist, checkpoint and RDD persist the engine
 * makes registers with exactly one open scope — the one it is handed to,
 * or else the thread's current scope — and is released when that scope
 * closes. A request, a bench rep, a refresh call, a server mount and a
 * catalog TTL entry each own one scope. An operator whose intermediates
 * must not outlive it opens a nested scope ([[Scope.local]]); a result
 * that must outlive the nested scope is checkpointed into the enclosing
 * one. Outside any open scope a block is unowned and ContextCleaner
 * reclaims it once its frame is unreachable — the single fallback, for
 * direct library use.
 *
 * Registration is thread-safe: work in a `Future` registers with the scope
 * that started it ([[Scope.future]]). A block registered after [[close]]
 * is released at once.
 */
final class Scope private () extends AutoCloseable {
  private val releases = new ConcurrentLinkedQueue[() => Unit]
  private val closed = new AtomicBoolean(false)

  /** Cache `df` until this scope closes. A plan that is already cached
    * stays with its first owner: persisting it again would be a no-op,
    * and releasing it here would drop the other owner's cache. */
  def persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { val p = df.persist(level); own(() => p.unpersist(false)); p }

  /** Local checkpoint of `df` (eager unless `eager = false`), released
    * when this scope closes. `Dataset.unpersist` does not release a local
    * checkpoint's blocks, so the scope owns the RDD under the returned
    * frame's `LogicalRDD` leaf. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.logical.collectLeaves().foreach {
      case l: LogicalRDD => own(() => l.rdd.unpersist(false))
      case _ => ()
    }
    cp
  }

  /** Persist `rdd` until this scope closes. */
  def persistRdd[T](rdd: RDD[T], level: StorageLevel = StorageLevel.MEMORY_AND_DISK): RDD[T] = {
    val p = rdd.persist(level)
    own(() => p.unpersist(false))
    p
  }

  /** Release every block this scope owns. Idempotent; a release that
    * fails (the SparkContext already stopped, so the blocks died with it)
    * is ignored. */
  def close(): Unit = { closed.set(true); drain() }

  private def own(release: () => Unit): Unit = {
    releases.add(release)
    if (closed.get()) drain()
  }

  private def drain(): Unit = {
    var r = releases.poll()
    while (r != null) {
      try r() catch { case _: Exception => () }
      r = releases.poll()
    }
  }
}

object Scope {
  private val active = new ThreadLocal[Scope]

  /** The scope installed on this thread, innermost first. */
  def current: Option[Scope] = Option(active.get())

  /** Open a scope, install it as the thread's current scope for `body`
    * (scopes nest) and close it when `body` ends. */
  def apply[T](body: Scope => T): T = {
    val s = new Scope
    try within(s)(body(s)) finally s.close()
  }

  /** A scope whose lifetime is not a block — a server mount, a cache
    * entry, a process-lifetime memo. Its owner closes it. */
  def open(): Scope = new Scope

  /** Run `body` with `s` as the thread's current scope. */
  def within[T](s: Scope)(body: => T): T = {
    val prev = active.get()
    active.set(s)
    try body finally { if (prev == null) active.remove() else active.set(prev) }
  }

  /** `body` as a `Future` whose worker thread runs with this thread's
    * current scope installed. */
  def future[T](body: => T)(implicit ec: ExecutionContext): Future[T] = {
    val owner = active.get()
    Future(if (owner == null) body else within(owner)(body))
  }

  /** Run `body` in a nested scope and checkpoint its result into the
    * enclosing scope before the nested one releases what `body` cached. */
  def local(body: Scope => DataFrame): DataFrame = {
    val outer = current
    apply(s => checkpointInto(outer, body(s), eager = true))
  }

  /** [[Scope#persist]] into the current scope; unowned outside one. */
  def persist(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    current.fold(df.persist(level))(_.persist(df, level))

  /** [[Scope#checkpoint]] into the current scope; unowned outside one. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    checkpointInto(current, df, eager)

  private def checkpointInto(owner: Option[Scope], df: DataFrame, eager: Boolean): DataFrame =
    owner.fold(df.localCheckpoint(eager))(_.checkpoint(df, eager))

  /** [[Scope#persistRdd]] into the current scope; unowned outside one. */
  def persistRdd[T](rdd: RDD[T], level: StorageLevel = StorageLevel.MEMORY_AND_DISK): RDD[T] =
    current.fold(rdd.persist(level))(_.persistRdd(rdd, level))
}
