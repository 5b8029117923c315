package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StatefulStreams

/** The scratch scope the streaming and disk-index queries run in: a body
  * that throws must still leave no dir and no conf change behind.
  */
class ScratchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a throwing body still deletes the dir and restores the session conf") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = StatefulStreams.RocksDb._1
    spark.conf.unset(unsetKey)
    val before = spark.conf.getAll
    assert(before.contains(setKey) && !before.contains(unsetKey))
    var root: java.io.File = null
    val err = intercept[IllegalStateException] {
      Scratch.run(spark, "graft_scratch_t_", setKey -> "3",
          StatefulStreams.RocksDb) { r =>
        root = r
        val nested = new java.io.File(r, "landing/part=0")
        assert(nested.mkdirs())
        java.nio.file.Files.write(new java.io.File(nested, "f").toPath,
          Array[Byte](1, 2, 3))
        assert(spark.conf.get(setKey) == "3")
        assert(spark.conf.get(unsetKey) == StatefulStreams.RocksDbProvider)
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(root != null && !root.exists, s"scratch dir $root leaked")
    val after = spark.conf.getAll
    assert(after.get(setKey) == before.get(setKey))
    assert(!after.contains(unsetKey), s"$unsetKey left set to ${after.get(unsetKey)}")
  }
}
