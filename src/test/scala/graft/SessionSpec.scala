package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** What Bench, Verify and PlanDump share: the session they run on
  * (`Session.local`, which the suites use too), the core count they
  * read, and the JSON string escaper their records are written with. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the benchmark harness confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("SPARK_GRAFT_CPUS: default 4, positive integers only, errors name the variable") {
    assert(Session.parseCpus(None) == 4)
    assert(Session.parseCpus(Some("8")) == 8)
    for (bad <- Seq("", "0", "-2", "four", "4.0")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("jsonString round-trips quote, backslash and control chars through a JSON parser") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    val lit = Verify.jsonString(s)
    assert(!lit.exists(_ < ' '), s"raw control char in $lit")
    assert(new ObjectMapper().readValue(lit, classOf[String]) == s)
  }
}
