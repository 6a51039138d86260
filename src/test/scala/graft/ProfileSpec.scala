package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Profile

class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("profile: nulls, exact ndv, fixed-point mean, string min/max on a closed-form frame") {
    val df = Seq[(java.lang.Long, String)]((1L, "b"), (2L, null), (null, "a"), (4L, "a"))
      .toDF("v", "s")
    val got = Profile.profile(df, Seq("v"), Seq("s")).collect()
    val byCol = got.map(r => r.getString(0) -> r).toMap
    val v = byCol("v")
    assert(v.getLong(1) == 4 && v.getLong(2) == 1)        // n, nulls
    assert(v.getLong(3) == 3)                              // ndv (nulls excluded)
    assert(v.getDouble(4) == 1.0 && v.getDouble(5) == 4.0) // min, max
    // mean is the 6-dp-rounded fixed-point form, not the raw double
    assert(v.getDouble(6) == 2.333333)                     // mean over non-null
    val st = byCol("s")
    assert(st.getLong(2) == 1 && st.getLong(3) == 2)       // nulls, ndv
    assert(st.getString(7) == "a" && st.getString(8) == "b")
  }
}
