package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{BloomFunctions, VectorFunctions}

/** The spark.sql.extensions injector must expose the native expressions
  * to a fresh session with zero per-session setup (pure-SQL clients). */
class GraftExtensionsSpec extends SparkSpec {

  test("functions are usable from SQL in a session built with the extension") {
    // force session materialization (shares the JVM-wide SparkContext)
    spark.sparkContext
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions applies the same injector class that
      // spark.sql.extensions=graft.functions.GraftExtensions loads on a
      // fresh cluster (static conf — not re-readable on the shared test
      // SparkContext, hence the builder API here)
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      val dot = s.sql(
        "SELECT graft_vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
        .head().getDouble(0)
      assert(dot == 32.0)
      val nShingles = s.sql(
        "SELECT size(graft_shingle_hashes(split('a b c d', ' '), 3))")
        .head().getInt(0)
      assert(nShingles == 2, "4 tokens, 3-shingles -> 2 distinct shingles")
      val sigLen = s.sql(
        "SELECT size(graft_minhash_sig(graft_shingle_hashes(split('a b c d', ' '), 2), 16))")
        .head().getInt(0)
      assert(sigLen == 16)
      // same values as the temp-registry path used inside the engine
      graft.functions.VectorFunctions.register(spark)
      val viaTemp = spark.sql(
        "SELECT graft_vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
        .head().getDouble(0)
      assert(viaTemp == dot)
      // the Bloom pair rides the same injector: build a filter over a
      // subquery's hashes, probe members and a non-member from plain SQL
      val hits = s.sql(
        """SELECT graft_bloom_might_contain(
          |    (SELECT graft_bloom_agg(xxhash64(x), 8L, 64L)
          |     FROM VALUES ('a'), ('b') AS t(x)),
          |    xxhash64(y)) AS hit
          |  FROM VALUES ('a'), ('b') AS probe(y)""".stripMargin)
        .collect().map(_.getBoolean(0))
      assert(hits.forall(identity), "members must always hit (no false negatives)")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  test("bounded levenshtein gets the length prefilter + threshold rewrite") {
    spark.sparkContext
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      // parquet-backed input so ConvertToLocalRelation can't fold the
      // filter away before the rule is visible in the optimized plan
      val docs = s.read.parquet(s"$sf/documents.parquet")
      val expr = "levenshtein(substring(text, 1, 8), lang) <= 3"
      val q = docs.filter(expr)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("abs((length(") || optimized.contains("abs(length("),
        s"length guard missing from:\n$optimized")
      assert(optimized.contains("Some(3)) >= 0"),
        s"thresholded levenshtein missing from:\n$optimized")
      // semantics unchanged vs the un-extended shared session (whose
      // optimizer has no such rule), on the same data and predicate
      val got = q.count()
      val want = spark.read.parquet(s"$sf/documents.parquet")
        .filter(expr).count()
      assert(got == want, s"rewrite changed semantics: got $got want $want")
      // and the predicate is REACHABLE: it actually filters rows
      assert(got < docs.count(),
        "test predicate must actually filter something")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  /** The messages logged anywhere while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val msgs = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = msgs.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    msgs.toArray(Array.empty[String]).toSeq
  }

  test("register twice: no function is replaced, nothing is logged, all resolve") {
    val replaced = (m: String) => m.contains("replaced a previously registered function")
    val reg = spark.sessionState.functionRegistry
    // the capture sees the warning an unguarded re-registration logs
    // (under a probe name, so the engine's own names never log it)
    val probe = FunctionIdentifier("graft_register_probe")
    val builder = VectorFunctions.builders.head._3
    assert(logged {
      reg.createOrReplaceTempFunction(probe.funcName, builder, "built-in")
      reg.createOrReplaceTempFunction(probe.funcName, builder, "built-in")
    }.exists(replaced))
    reg.dropFunction(probe)

    val msgs = logged {
      VectorFunctions.register(spark); BloomFunctions.register(spark)
      VectorFunctions.register(spark); BloomFunctions.register(spark)
    }
    assert(!msgs.exists(replaced), msgs.filter(replaced).mkString("\n"))
    for ((n, _, _) <- VectorFunctions.builders ++ BloomFunctions.builders)
      assert(reg.functionExists(FunctionIdentifier(n)), s"$n is not registered")
    assert(spark.sql("SELECT graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT size(graft_shingle_hashes(split('a b c d', ' '), 3))")
      .head().getInt(0) == 2)
  }
}
