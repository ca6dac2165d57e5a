package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, ExecutorCompletionService, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A shared intermediate several queries read, built once per
  * (session, dir) — the role the reference's `df_ops.persist` plays before
  * its search modules run. Only the LATEST key is kept: asking for another
  * key releases the held value first, unpersisting every frame it holds,
  * so nothing outlives a switch of dir or session. Each memo has its own
  * lock; a build chooses its own storage (`cache()`, an eager
  * `localCheckpoint`, ...). Unpersisting a cached frame leaves a
  * consumer still holding it able to recompute from lineage; a
  * checkpointed frame has no lineage, so release leaves its blocks to
  * Spark's cleaner, which drops them once nothing references the frame.
  *
  * `deps` names the memos a build reads. They order the warm phase
  * ([[SparkEntry.runWarm]]) and are checked: every read of one memo from
  * inside another's build is recorded ([[Memo.observedReads]]) so a spec
  * can assert each one is declared. Declare memos as `lazy val`s so a dep
  * may sit anywhere in its object.
  */
final class Memo[A] private (
    val name: String,
    val deps: Seq[Memo[_]],
    frames: A => Seq[DataFrame],
    build: (SparkSession, String) => A) {

  private var slot: Option[((SparkSession, String), A)] = None

  def apply(s: SparkSession, d: String): A = {
    Memo.recordRead(this)
    synchronized {
      slot match {
        case Some((key, v)) if key == ((s, d)) => v
        case _ =>
          release()
          val v = Memo.building(this)(build(s, d))
          slot = Some(((s, d), v))
          v
      }
    }
  }

  /** Drops the held value and unpersists its frames. */
  def release(): Unit = synchronized {
    slot.foreach { case (_, v) => frames(v).foreach(_.unpersist()) }
    slot = None
  }

  /** Builds the value for (s, d) and counts every frame it holds, one
    * concurrent job per frame.
    */
  def force(s: SparkSession, d: String): Unit = {
    val held = frames(apply(s, d))
    Memo.par(held.map(df => () => df.count())); ()
  }

  /** This memo as a named warm step. */
  def step: (String, (SparkSession, String) => Unit) = name -> (force(_, _))
}

object Memo {

  def apply[A](name: String, deps: Memo[_]*)(frames: A => Seq[DataFrame])(
      build: (SparkSession, String) => A): Memo[A] =
    new Memo(name, deps, frames, build)

  /** `frames` for a memo whose value is one frame. */
  val one: DataFrame => Seq[DataFrame] = Seq(_)

  /** `frames` for a memo whose value is a pair of frames. */
  val pair: ((DataFrame, DataFrame)) => Seq[DataFrame] = p => Seq(p._1, p._2)

  /** The memo whose build is running on this thread, if any. */
  private val current = new ThreadLocal[Option[Memo[_]]] {
    override def initialValue(): Option[Memo[_]] = None
  }

  private val reads = ConcurrentHashMap.newKeySet[(String, String)]()

  private def building[T](m: Memo[_])(body: => T): T = {
    val outer = current.get
    current.set(Some(m))
    try body finally current.set(outer)
  }

  private def recordRead(m: Memo[_]): Unit =
    current.get.foreach(b => if (b ne m) reads.add(b.name -> m.name))

  /** Every (reader, read) pair of memo names seen so far in this JVM. */
  def observedReads: Set[(String, String)] = reads.asScala.toSet

  /** Runs the thunks concurrently on a fixed pool with one thread per
    * thunk and returns their results in order. The first failure to
    * complete is rethrown (the other thunks run on); the pool is shut
    * down on every path. The caller's building marker carries over, so a
    * memo read from inside a thunk is attributed to the enclosing build.
    */
  def par[A](thunks: Seq[() => A]): Seq[A] = {
    val marker = current.get
    val pool = Executors.newFixedThreadPool(math.max(thunks.size, 1))
    try {
      val done = new ExecutorCompletionService[(Int, A)](pool)
      thunks.zipWithIndex.foreach { case (t, i) =>
        done.submit(() => { current.set(marker); (i, t()) })
      }
      thunks.map { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }.sortBy(_._1).map(_._2)
    } finally pool.shutdown()
  }
}
