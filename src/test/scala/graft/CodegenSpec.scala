package graft

/** Each declared query compiles its generated classes once per session:
  * the codegen cache GraftSession sizes holds the whole declared surface,
  * and class names without stage ids give a pipeline the same source text
  * on every call, so a warm sweep compiles (almost) nothing.
  */
class CodegenSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("the codegen cache in this JVM has GraftSession's capacity; class names carry no stage id") {
    // Spark sizes the cache once, when CodeGenerator first initializes;
    // a JVM that touched codegen before any tuned session existed would
    // keep Spark's 100 entries whatever the conf says
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheMaxEntries.toString)
    assert(GraftSession.codegenCacheCapacity() === GraftSession.CodegenCacheMaxEntries)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("three sweeps of every declared key: the first fits in half the cache, the third compiles under 1% of it") {
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
    def sweep(): Long = {
      val c0 = GraftSession.codegenCompiles()
      keys.foreach { case (name, fn) =>
        withClue(s"$name: ") {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
      GraftSession.codegenCompiles() - c0
    }
    val Seq(first, second, third) = Seq.fill(3)(sweep())
    val cap = GraftSession.codegenCacheCapacity()
    info(s"${keys.size} keys; sweeps compiled $first, $second, $third classes; cache holds $cap")
    // (a) capacity: the surface's distinct classes leave the cache at
    // least half free
    assert(first > 0 && first * 2 <= cap,
      s"first sweep compiled $first classes, cache holds $cap")
    // (b) stability: what a warm sweep still compiles is per-call churn;
    // WindowExec's lead/lag(ignoreNulls) frame groups come out of a hash
    // map whose order follows per-call expression ids, so a few window
    // classes collect more than one ordering
    assert(third * 100 < first,
      s"third sweep compiled $third classes against the first sweep's $first")
  }
}
