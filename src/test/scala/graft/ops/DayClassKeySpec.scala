package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DayClassKeySpec extends SparkSpec {
  import spark.implicits._

  test("q339 day/class key round-trips for pre-1970 (negative) epoch days") {
    val rows = Seq(("1969-12-31", true), ("1969-12-31", false),
      ("1960-02-29", true), ("1970-01-01", true), ("1970-01-01", false),
      ("1998-08-02", false))
    val got = rows.toDF("d", "hi")
      .select(col("d"), col("hi"),
        floor(unix_timestamp(to_date(col("d"))) / 86400L).as("day"))
      .withColumn("grp", Relational.dayClassKey(col("day"), col("hi")))
      .select(col("day"), col("hi"),
        Relational.keyDay(col("grp")).as("day2"),
        Relational.keyIsHi(col("grp")).as("hi2"))
      .as[(Long, Boolean, Long, Boolean)].collect()
    assert(got.map(_._1).min === -3594L) // 1960-02-29
    // a negative hi-class key is odd and negative: `%` reads it as -1
    assert(got.exists { case (day, hi, _, _) => day < 0 && hi })
    got.foreach { case (day, hi, day2, hi2) =>
      assert((day2, hi2) === ((day, hi)))
    }
  }
}
