package graft

import org.scalatest.matchers.should.Matchers

/** [[Sessions.withConf]] leaves the session's conf as it found it: a key
  * that was set gets its old value back, a key that was unset is unset
  * again, and both hold when the body throws.
  */
class SessionsWithConfSpec extends SparkSuite with Matchers {
  private val setKey = "spark.sql.shuffle.partitions" // SparkSuite sets it
  private val unsetKey = "graft.spec.withconf.unset"

  test("a key that was set comes back with its old value") {
    val old = spark.conf.get(setKey)
    Sessions.withConf(spark, setKey -> "3") {
      spark.conf.get(setKey) shouldBe "3"
    }
    spark.conf.get(setKey) shouldBe old
  }

  test("a key that was unset is unset again") {
    spark.conf.getOption(unsetKey) shouldBe None
    Sessions.withConf(spark, unsetKey -> "on") {
      spark.conf.get(unsetKey) shouldBe "on"
    }
    spark.conf.getOption(unsetKey) shouldBe None
  }

  test("both keys are restored when the body throws") {
    val old = spark.conf.get(setKey)
    an[IllegalStateException] should be thrownBy
      Sessions.withConf(spark, setKey -> "3", unsetKey -> "on") {
        throw new IllegalStateException("body failed")
      }
    spark.conf.get(setKey) shouldBe old
    spark.conf.getOption(unsetKey) shouldBe None
  }

  test("an override on a newSession does not reach the session it came from") {
    val old = spark.conf.get(setKey)
    Sessions.withConf(spark.newSession(), setKey -> "3") {
      spark.conf.get(setKey) shouldBe old
    }
  }
}
