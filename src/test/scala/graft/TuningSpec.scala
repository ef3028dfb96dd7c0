package graft

/** `Tuning` fills in the engine's session settings without overriding a
  * host's own. Each case runs on a fresh `newSession()`, so the shared test
  * session's conf is never touched. */
class TuningSpec extends SparkSuite {
  private val Smj = "spark.sql.join.preferSortMergeJoin"
  private val CachedPlan = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private val Excluded = "spark.sql.optimizer.excludedRules"
  private val LocalRelation = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
  private val HostRule = "org.apache.spark.sql.catalyst.optimizer.CombineUnions"

  test("an untouched session gets the engine's three settings") {
    val s = spark.newSession()
    Tuning(s)
    assert(s.conf.get(CachedPlan) == "true")
    assert(s.conf.get(Smj) == "false")
    assert(s.conf.get(Excluded) == LocalRelation)
  }

  test("a host-set preferSortMergeJoin survives") {
    val s = spark.newSession()
    s.conf.set(Smj, "true")
    Tuning(s)
    assert(s.conf.get(Smj) == "true")
  }

  test("a host excludedRules entry is kept next to ConvertToLocalRelation") {
    val s = spark.newSession()
    s.conf.set(Excluded, HostRule)
    Tuning(s)
    assert(s.conf.get(Excluded).split(",").toSeq == Seq(HostRule, LocalRelation))
  }

  test("a second application changes nothing and adds no duplicate rule") {
    val s = spark.newSession()
    s.conf.set(Excluded, HostRule)
    Tuning(s)
    val first = Seq(CachedPlan, Smj, Excluded).map(s.conf.get)
    Tuning(s)
    assert(Seq(CachedPlan, Smj, Excluded).map(s.conf.get) == first)
    assert(s.conf.get(Excluded).split(",").count(_ == LocalRelation) == 1)
  }
}
