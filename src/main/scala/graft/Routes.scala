package graft

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage

/** The one place a routed kernel decides between its in-task form and its
  * distributed form (cap-and-route).
  *
  * Each routed kernel reduces its input to a size orders of magnitude below
  * the corpus at fixture and dashboard scale (an edge list, a value
  * histogram, a chunk's tracks), where the distributed form's per-stage and
  * per-job launch overhead (a driver round-trip and several shuffles per
  * iteration) dwarfs the arithmetic. The kernel measures that size with a
  * count it takes anyway and asks [[local]]: at or under the route's cap
  * ONE task runs an exact local kernel over the whole input; above it the
  * distributed form runs unchanged. Both compute the same unique answer
  * (minimum component labels, shortest hops, integer recurrences, exact
  * top-k); `RouteEquivalenceSpec` compares them for every registry entry.
  *
  * Caps are constants: a cap sizes one task's memory and time, a property
  * of the local kernel rather than of a deployment. Each decision is logged
  * at INFO on the `graft.Routes` logger as one map message (`name`,
  * `measured`, `cap`, `route`). Tests force routes with [[withCaps]] /
  * [[forcedDistributed]] and read decisions with [[recorded]], all scoped
  * to the calling thread. */
object Routes {

  /** A routed kernel: the size it measures, the cap at or under which
    * it runs in one task, and what that cap lets the task hold. */
  final case class Route(name: String, measures: String, cap: Long, footprint: String)

  /** One decision; `route` is "local" or "distributed". */
  final case class Decision(name: String, measured: Long, cap: Long, route: String)

  val Cc = Route("cc", "edges of the pair frame", 4000000L,
    "≈64 MB of id pairs, ~1 s of single-task union-find")
  val AllPairs = Route("allpairs", "distinct docs × element rows", 500000000L,
    "1-2 s of in-task two-pointer merges over Σ|doc| longs")
  val Hausdorff = Route("hausdorff", "tracks in the largest chunk", 4000L,
    "≤8 M pairs of distinct-point arrays (pairs grow as tracks²)")
  val Mad = Route("mad", "rows of the (domain, value) histogram", 4000000L,
    "4 M (domain, cents, count) rows")
  val Exposure = Route("exposure", "contact-pair edges, then each component's",
    4000000L, "~32 B/edge + O(nodes) ≈ 128 MB (primitive edges + CSR)")
  val TextRank = Route("text_rank", "token co-occurrence edges", 4000000L,
    "3 integer power passes over ≤4 M primitive edges")
  val Convoy = Route("convoy", "distinct members in the busiest hour", 4000000L,
    "one hour's union-find, edges streamed: ~115 B/member ≈ 0.46 GB")

  val registry: Seq[Route] = Seq(Cc, AllPairs, Hausdorff, Mad, Exposure, TextRank, Convoy)

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))
  private val overrides = ThreadLocal.withInitial[Map[String, Long]](() => Map.empty)
  private val sinks = ThreadLocal.withInitial[List[mutable.Buffer[Decision]]](() => Nil)

  /** The cap in force for `r` on this thread. */
  def cap(r: Route): Long = overrides.get.getOrElse(r.name, r.cap)

  /** Whether `measured` fits one task (`measured <= cap(r)`); records
    * and logs the decision. */
  def local(r: Route, measured: Long): Boolean = {
    val c = cap(r)
    val fits = measured <= c
    val d = Decision(r.name, measured, c, if (fits) "local" else "distributed")
    log.info(new StringMapMessage()
      .`with`("name", d.name).`with`("measured", d.measured.toString)
      .`with`("cap", d.cap.toString).`with`("route", d.route))
    sinks.get.foreach(_ += d)
    fits
  }

  /** `body` with the given caps in force on this thread, nested scopes
    * included; the previous caps return when `body` ends or throws. */
  private[graft] def withCaps[T](caps: (Route, Long)*)(body: => T): T = {
    val was = overrides.get
    overrides.set(was ++ caps.map { case (r, c) => r.name -> c })
    try body finally overrides.set(was)
  }

  /** `body` with every route distributed, nested ones included (the
    * `cc` inside exposure and the convoy global path): a cap of -1
    * admits no measured size. */
  private[graft] def forcedDistributed[T](body: => T): T =
    withCaps(registry.map(_ -> -1L): _*)(body)

  /** `body`'s result and the decisions taken on this thread meanwhile. */
  private[graft] def recorded[T](body: => T): (T, Seq[Decision]) = {
    val buf = mutable.ArrayBuffer.empty[Decision]
    val was = sinks.get
    sinks.set(buf :: was)
    try (body, buf.toList) finally sinks.set(was)
  }
}
