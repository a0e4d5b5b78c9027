package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** [[ResolvedCache]]: a resolve that an invalidation raced is returned
  * uncached, invalidation reaches a path and everything under it, and
  * the LRU bound holds. The racing writer is simulated inside the
  * resolve thunk, so every case is deterministic. */
class ResolvedCacheSpec extends SparkSpec {

  private final class Counted {
    var resolves = 0
    val cache = new ResolvedCache[(SparkSession, String), AnyRef](
      2, _._2, _._1)
    def get(path: String)(during: => Unit = ()): AnyRef =
      cache.get((spark, path)) { resolves += 1; during; new Object }
  }

  private def raced(invalidate: ResolvedCache[_, _] => Unit): Unit = {
    val c = new Counted
    val first = c.get("/d/t.parquet")(invalidate(c.cache))
    val second = c.get("/d/t.parquet")()
    assert(c.resolves == 2, "a raced resolve must not be cached")
    assert(second ne first)
    assert(c.get("/d/t.parquet")() eq second)
    assert(c.resolves == 2, "the next resolve is cached again")
  }

  test("an invalidate of the exact path during resolve leaves it uncached") {
    raced(_.invalidate("/d/t.parquet"))
  }

  test("an invalidate of a dir above the path during resolve leaves it uncached") {
    raced(_.invalidate("/d/"))
  }

  test("a clear during resolve leaves it uncached") {
    raced(_.clear())
  }

  test("invalidate drops the path and what lies under it, not its siblings") {
    val c = new Counted
    val under = c.get("/d/t.parquet")()
    val sibling = c.get("/dx/t.parquet")()
    c.cache.invalidate("/d")
    assert(c.get("/dx/t.parquet")() eq sibling)
    assert(c.get("/d/t.parquet")() ne under)
    assert(c.resolves == 3)
  }

  test("the LRU bound evicts the least recently used entry") {
    val c = new Counted
    val a = c.get("/a")()
    val b = c.get("/b")()
    assert(c.get("/a")() eq a) // /b is now the eldest
    c.get("/c")()
    assert(c.resolves == 3)
    assert(c.get("/a")() eq a)
    assert(c.get("/b")() ne b, "the eldest entry must have been evicted")
    assert(c.resolves == 4)
  }

  test("Tables.invalidate(dir) relists that dir's loads and keeps other dirs'") {
    val dir = Scratch.fresh("spec_tables")
    Files.copy(Paths.get(sf0001, "nation.parquet"),
      Paths.get(dir, "nation.parquet"))
    val mine = Tables.load(spark, dir, "nation")
    val other = Tables.load(spark, sf0001, "nation")
    assert(Tables.load(spark, dir, "nation") eq mine)
    Tables.invalidate(dir)
    assert(Tables.load(spark, dir, "nation") ne mine)
    assert(Tables.load(spark, sf0001, "nation") eq other)
  }
}
