package graft

/** `graft.withConf` scopes one session conf entry to its body. */
class WithConfSpec extends SparkSpec {
  private val key = "spark.graft.test.scopedEntry"

  test("withConf restores a previously set value") {
    spark.conf.set(key, "before")
    try {
      assert(withConf(spark, key -> "inside")(spark.conf.get(key)) == "inside")
      assert(spark.conf.get(key) == "before")
    } finally spark.conf.unset(key)
  }

  test("withConf unsets a key that was unset before") {
    assert(spark.conf.getOption(key).isEmpty)
    assert(withConf(spark, key -> "inside")(spark.conf.getOption(key)) ==
      Some("inside"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("withConf restores when the body throws") {
    spark.conf.set(key, "before")
    try {
      intercept[IllegalStateException] {
        withConf(spark, key -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(key) == "before")
    } finally spark.conf.unset(key)
  }
}
