package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext

/** In-memory span recorder for the traced run.
  *
  * A span is (id, name, parent, request id, start, end) around one call
  * from the harness into an engine module. Spans stay in memory and are
  * written out once, when the run ends. With tracing off, [[span]] only
  * runs its body, so the untraced run measures the engine alone.
  *
  * While a span is open on a thread, the thread's Spark local property
  * [[Prop]] and a job tag ([[Tag]] + id) carry its id, so every job and
  * SQL execution it launches (and every stage and task of those jobs)
  * is attributed to it by [[Counters]].
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, req: Long,
                        start: Long, end: Long) {
    def dur: Long = end - start
  }

  val Prop = "perfbench.span"
  val Tag = "perfbench-span-"

  @volatile var on = false
  /** The live session's context, whose local properties carry the span. */
  @volatile var context: Option[SparkContext] = None
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Id of the innermost open span on this thread, 0 at the root. */
  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String, req: Long = -1, parent: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val par = if (parent >= 0) parent else current
      val sc = context.filterNot(_.isStopped)
      val prev = sc.map(_.getLocalProperty(Prop))
      sc.foreach { c => c.setLocalProperty(Prop, id.toString); c.addJobTag(Tag + id) }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.drop(1))
        sc.foreach { c => c.setLocalProperty(Prop, prev.orNull); c.removeJobTag(Tag + id) }
        done.add(Span(id, name, par, req, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Span id → the id of its ancestor whose name satisfies `root`
    * (itself included), for attributing counts to a layer. */
  def rootOf(all: Seq[Span], root: String => Boolean): Map[Int, Int] = {
    val byId = all.map(s => s.id -> s).toMap
    val memo = mutable.Map[Int, Int]()
    def find(id: Int): Int = memo.getOrElseUpdate(id,
      byId.get(id) match {
        case Some(s) if root(s.name) => s.id
        case Some(s) => find(s.parent)
        case None => 0
      })
    all.map(s => s.id -> find(s.id)).toMap
  }

  /** Self time per span: its duration minus the part of its interval
    * covered by the union of its children's intervals. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  def toJsonLines(all: Seq[Span], self: Map[Int, Long]): Iterator[String] =
    all.iterator.map { s =>
      Json.write(mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "req" -> s.req, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_ns" -> self.getOrElse(s.id, 0L)))
    }
}

/** JSON rendering of the run's result and span files, with the Jackson
  * that ships on Spark's classpath. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
