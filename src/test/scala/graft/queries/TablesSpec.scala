package graft.queries

import java.lang.ref.WeakReference

import graft.SparkSpec

/** [[Tables.t]]'s memo must not keep a session alive: a session a caller
  * drops after loading tables through it becomes collectable. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a dropped session that loaded tables through Tables.t is collectable") {
    withTempDir { dir =>
      (0 until 10).map(i => (i.toLong, s"k$i")).toDF("id", "k")
        .write.parquet(s"$dir/items.parquet")

      // load through a session nothing else references, then drop it.
      // Spark itself keeps a session that has run a query reachable, so
      // this one only builds the frame (its schema inference included)
      def loadAndDrop(): WeakReference[org.apache.spark.sql.SparkSession] = {
        val session = spark.newSession()
        assert(Tables.t(session, dir, "items").columns.toSeq == Seq("id", "k"))
        new WeakReference(session)
      }
      val probe = loadAndDrop()
      var tries = 0
      while (probe.get() != null && tries < 50) {
        System.gc()
        Thread.sleep(100)
        tries += 1
      }
      assert(probe.get() == null, s"session still reachable after $tries GCs")
      // the memo keeps serving later sessions
      assert(Tables.t(spark, dir, "items").as[(Long, String)].collect()
        .sortBy(_._1).toSeq == (0 until 10).map(i => (i.toLong, s"k$i")))
    }
  }
}
