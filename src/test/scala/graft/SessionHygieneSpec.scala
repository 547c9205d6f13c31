package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** No operator leaves state behind between calls: running and collecting
  * any of the `SparkEntry.queries` at sf0.001 leaves the session's
  * CacheManager, persistent RDDs, temp views and catalog tables, conf and
  * active streams as it found them. The session runs with codegen fallback
  * off, so a query whose generated code does not compile fails here
  * instead of silently running interpreted.
  *
  * Named exemptions:
  *  - `minhashPairsIncremental` (`q_dedup_minhash_inc`, `q_stream_dedup`)
  *    keeps its `localCheckpoint`: it materializes the result before the
  *    `sigDir` append, so the returned pairs never race the signature
  *    write. Its checkpoint RDD stays persistent until the ContextCleaner
  *    collects it, so these two queries may add persistent RDDs.
  *  - `IvfBroadcasts` keeps one live broadcast per slot until the next
  *    install, and `GraftFunctions.register` installs the functions and
  *    the optimizer rule once per session. Neither is compared here.
  */
class SessionHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private val checkpointsResult = Set("q_dedup_minhash_inc", "q_stream_dedup")

  private case class State(cacheEmpty: Boolean, rdds: Set[Int], tables: Set[String],
      conf: Map[String, String], streams: Set[String])

  private def state(): State = State(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty,
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    spark.catalog.listTables().collect()
      .map(t => s"${t.database}.${t.name}${if (t.isTemporary) " (temp)" else ""}").toSet,
    spark.conf.getAll,
    spark.streams.active.map(_.id.toString).toSet)

  test("the gate covers all 67 queries") {
    assert(SparkEntry.queries.size == 67)
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name leaves no session state behind") {
      // each query starts from an empty cache, so an entry it shares with
      // an earlier caller (the same shingle plan, say) is still its own
      spark.catalog.clearCache()
      val before = state()
      SparkEntry.queries(name)(spark, sf).collect()
      val after = state()
      assert(!before.cacheEmpty || after.cacheEmpty,
        s"$name left a CacheManager entry")
      val newRdds = after.rdds -- before.rdds
      assert(newRdds.isEmpty || checkpointsResult(name),
        s"$name left persistent RDDs ${newRdds.toSeq.sorted.mkString(", ")}")
      assert(after.tables == before.tables,
        s"$name changed the catalog: +${after.tables -- before.tables} " +
          s"-${before.tables -- after.tables}")
      val confDiff = (after.conf.toSet diff before.conf.toSet) ++
        (before.conf.toSet diff after.conf.toSet)
      assert(confDiff.isEmpty, s"$name changed the session conf: $confDiff")
      assert(after.streams == before.streams, s"$name left an active stream")
    }
  }
}
