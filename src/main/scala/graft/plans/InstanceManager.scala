package graft.plans

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Named-instance registry + EXTERNAL cancellation of running workflow
  * instances — the other half of SURVEY §2.1's R4 "per-task
  * timeout/cancellation" gap ([[TaskTimeout]] is the deadline half;
  * this adds cancel-by-name from outside the running thread, wired to
  * `DELETE /instances/{id}` on [[HttpControlPlane]]). The reference
  * cancels individual asyncio tasks (public reference
  * `nyuki/workflow/` — mount empty, SURVEY.md §0); in this engine's
  * compiled-single-plan model an instance is either ONE batch action
  * or ONE StreamingQuery, and both carry a native cluster-wide kill
  * switch — job-group cancellation interrupts every task of the
  * instance on every executor, `StreamingQuery.stop()` halts the
  * stream at a batch boundary. This manager only NAMES instances and
  * wires the switches; it never invents a second scheduler (the
  * round-1 design rule: delegate scheduling to Spark).
  *
  * Thread-safety: TrieMap registry, same as TemplateRegistry. The
  * job-group tag is thread-local in Spark, so [[runBatch]] is
  * synchronous on the calling thread; [[cancel]] may fire from any
  * thread (that is its point).
  */
final class InstanceManager(spark: SparkSession) {
  import InstanceManager._

  final class InstanceCancelledException(id: String)
    extends RuntimeException(
      s"instance '$id' was cancelled while executing")

  private val running = TrieMap.empty[String, Handle]

  // Group names carry a per-run sequence number because cancellation is
  // cancelJobGroupAndFutureJobs: Spark remembers a cancelled group and
  // kills later jobs submitted under the same name, so a REUSED instance
  // id must not inherit a previous run's death sentence.
  private val runSeq = new AtomicLong(0L)

  /** Run one batch instance synchronously under its own job group,
    * optionally deadline-guarded by [[TaskTimeout]]. Returns Failure
    * (with Spark's cancellation exception, InstanceCancelledException,
    * or TaskTimedOutException) if [[cancel]] was called from another
    * thread or the deadline fired; the job group is always cleared and
    * the instance deregistered.
    *
    * Ordering closes the cancel race: the job group is set BEFORE the
    * id is registered, so any cancel() that observes the registration
    * targets the live group; cancel() uses
    * cancelJobGroupAndFutureJobs, so a cancel landing BETWEEN two
    * actions of a multi-action body kills the next action rather than
    * letting the instance run to completion; and the cancelled flag is
    * checked after the body, so even a body with no further Spark
    * actions reports Failure instead of a false success. */
  def runBatch[T](id: String, timeoutMs: Option[Long] = None)
      (body: => T): Try[T] = {
    // fail fast BEFORE any thread-local mutation: a nested/duplicate
    // call must not disturb the caller's own job group (the group is
    // what cancel() and TaskTimeout target)
    require(!running.contains(id), s"instance '$id' already running")
    val group = s"graft-instance-$id-run${runSeq.incrementAndGet()}"
    val flag = new AtomicBoolean(false)
    val sc = spark.sparkContext
    // save the caller's group properties so a runBatch nested inside
    // another instance's body RESTORES the outer group on exit instead
    // of clearing it (clearing would orphan the outer instance's
    // remaining actions from its cancel/timeout switches)
    val prev = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    def restore(): Unit =
      prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    sc.setJobGroup(group, s"graft instance $id", interruptOnCancel = true)
    if (running.putIfAbsent(id, Batch(group, flag)).isDefined) {
      // lost a same-instant race on the id (the require above already
      // rejected the common same-thread nesting case)
      restore()
      throw new IllegalArgumentException(s"instance '$id' already running")
    }
    try {
      val out = timeoutMs match {
        // runWithTimeout re-sets the same group (idempotent) and adds
        // the watchdog; both paths run under `group`
        case Some(ms) => TaskTimeout.runWithTimeout(spark, group, ms)(body)
        case None => body
      }
      if (flag.get) Failure(new InstanceCancelledException(id))
      else Success(out)
    }
    catch {
      case e: Exception =>
        if (flag.get) {
          val ce = new InstanceCancelledException(id)
          ce.initCause(e)
          Failure(ce)
        } else Failure(e)
    }
    finally {
      running.remove(id)
      restore()
    }
  }

  /** Adopt a running streaming instance so the control plane can stop
    * it by name; deregistration happens on cancel or [[prune]]. */
  def register(id: String, query: StreamingQuery): Unit = {
    require(!running.contains(id), s"instance '$id' already running")
    running.put(id, Stream(query))
  }

  /** Cancel a named instance. Batch: marks the instance cancelled and
    * cancels its job group INCLUDING future jobs — running tasks are
    * interrupted everywhere, and an action the body has not submitted
    * yet dies on submission, so `cancelled: true` is definitive, not
    * best-effort (the runner's finally block deregisters, so a double
    * cancel is harmless). Stream: stops the query at the next batch
    * boundary. Returns false for unknown ids. */
  def cancel(id: String): Boolean = running.get(id) match {
    case Some(Batch(group, flag)) =>
      flag.set(true)
      spark.sparkContext.cancelJobGroupAndFutureJobs(group,
        s"instance '$id' cancelled via control plane")
      true
    case Some(Stream(q)) =>
      q.stop()
      running.remove(id)
      true
    case None => false
  }

  /** Drop registered streaming instances that already terminated. */
  def prune(): Unit = running.foreach {
    case (id, Stream(q)) if !q.isActive => running.remove(id)
    case _ => ()
  }

  def active: Set[String] = { prune(); running.keySet.toSet }
}

object InstanceManager {
  private sealed trait Handle
  private final case class Batch(group: String, cancelled: AtomicBoolean)
    extends Handle
  private final case class Stream(query: StreamingQuery) extends Handle
}
