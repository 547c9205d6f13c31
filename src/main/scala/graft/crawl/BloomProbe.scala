package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/**
 * `bloom_might_contain_bc` — probe a driver-cached [[BloomFilter]] whose
 * bytes ride as a TorrentBroadcast instead of a plan Literal.
 *
 * Nothing in the crawl round probes a bloom (see [[Frontier]]): this
 * expression, `GraftFunctions.bloom_probe_bc` and [[BloomBroadcasts]] stay
 * only for the benchmark under `perfbench/`, which measures a URL-seen
 * filter's maybe-seen slice and false-positive rate with them; they go at
 * the next change to the benchmark. The design notes below are kept for
 * any later membership filter.
 *
 * Why not `might_contain` over `lit(bytes)` (the r4 shape): a Literal is
 * serialized into the TASK BINARY of every stage that evaluates the
 * predicate — at bloomBits=2^24 that is 2 MiB per stage per round, and the
 * driver re-encodes it into every plan copy Catalyst makes. The A/B probe
 * (BASELINE.md r5) measured the multi-round crawl at ~12.4 s/round with the
 * Literal vs ~6 s/round with the r3 broadcast+UDF shape — the entire r4
 * crawl-round level shift. At 10^10-URL scale the filter is GBs and a
 * Literal is not just slow but impossible; a broadcast is the only shape
 * that survives. This expression keeps BOTH properties: broadcast transport
 * (small task binaries, torrent distribution, one deserialize per executor)
 * AND whole-stage codegen ([[graft.spark.BodyCodegen]] calls `nullSafeEval`,
 * which probes `mightContainLong` on the filter its `@transient lazy val`
 * reads from `bc.value` once per task — no UDF boundary, unlike the r3
 * shape).
 */
case class BloomMightContainBc(child: Expression, bc: Broadcast[BloomFilter])
    extends UnaryExpression with graft.spark.BodyCodegen with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType

  @transient private lazy val filter = bc.value

  override def nullSafeEval(h: Any): Any =
    filter.mightContainLong(h.asInstanceOf[Long])

  override def prettyName: String = "bloom_might_contain_bc"
  override protected def withNewChildInternal(c: Expression): BloomMightContainBc =
    copy(child = c)
}

/**
 * Driver-side registry that carries [[Broadcast]] handles into the
 * function-registry builder: a registered SQL function builder only sees
 * child EXPRESSIONS, so the broadcast handle rides in keyed by a literal id
 * (`slot#broadcastId`). Analysis happens eagerly on the driver at DataFrame
 * construction, so the lookup always hits the entry installed just before.
 *
 * One live broadcast per `slot` (e.g. one per session's URL-seen filter):
 * installing a new round's value releases the previous round's executor
 * copies — the multi-round crawl re-broadcasts the (mutated) filter each
 * round, and without the release a long crawl would accumulate one 2 MiB
 * executor block per round.
 */
class BroadcastSlots[T](what: String) {
  private val byKey = new java.util.concurrent.ConcurrentHashMap[String, Broadcast[T]]()
  private val slotKey = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Register `bc` under `slot`, releasing the slot's previous broadcast.
    * Returns the registry key to embed as the function's id literal. */
  def install(slot: String, bc: Broadcast[T]): String = {
    val key = s"$slot#${bc.id}"
    byKey.put(key, bc)
    val old = slotKey.put(slot, key)
    if (old != null && old != key) {
      val ob = byKey.remove(old)
      if (ob != null) ob.unpersist(false)
    }
    key
  }

  def get(key: String): Broadcast[T] = {
    val bc = byKey.get(key)
    require(bc != null, s"no $what broadcast registered under '$key'")
    bc
  }
}

/** The bloom filters behind `bloom_might_contain_bc` (benchmark only). */
object BloomBroadcasts extends BroadcastSlots[BloomFilter]("bloom")
