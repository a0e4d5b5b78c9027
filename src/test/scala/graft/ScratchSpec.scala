package graft

import java.nio.file.{Files, Paths}

/** [[Scratch]]: every sidecar the DuckDB twins read lives under this
  * JVM's root, and `once` rebuilds exactly when its key changes or
  * the previous build threw. */
class ScratchSpec extends SparkSpec {

  test("every graft_ path in oracleSql lies under Scratch.root") {
    val pathRe = "/[A-Za-z0-9_./*=-]*graft_[A-Za-z0-9_./*=-]*".r
    val paths = SparkEntry.oracleSql.values
      .flatMap(sql => pathRe.findAllIn(sql)).toSet
    assert(paths.nonEmpty, "expected sidecar paths in oracleSql")
    val outside = paths.filterNot(_.startsWith(Scratch.root.getPath + "/"))
    assert(outside.isEmpty, s"sidecar paths outside ${Scratch.root}: $outside")
  }

  test("fresh gives a distinct new dir per call") {
    val a = Scratch.fresh("spec_fresh")
    val b = Scratch.fresh("spec_fresh")
    assert(a != b)
    Seq(a, b).foreach { d =>
      assert(Files.isDirectory(Paths.get(d)))
      assert(d.startsWith(Scratch.root.getPath + "/"))
    }
  }

  test("once: a thrown build is redone, a same-key call is not") {
    val in = Scratch.fresh("spec_in")
    Files.writeString(Paths.get(in, "a.txt"), "a")
    var builds = 0
    def build(fail: Boolean): Unit =
      Scratch.once(spark, "spec_once_throw", Seq(in)) {
        builds += 1
        if (fail) throw new IllegalStateException("build failed")
      }
    intercept[IllegalStateException](build(fail = true))
    build(fail = false)
    assert(builds == 2, "a build that threw must be redone")
    build(fail = false)
    assert(builds == 2, "an unchanged key must not rebuild")
  }

  test("once: a changed input listing or params rebuild") {
    val in = Scratch.fresh("spec_in")
    Files.writeString(Paths.get(in, "a.txt"), "a")
    var builds = 0
    def build(params: Any*): Unit =
      Scratch.once(spark, "spec_once_key", Seq(in), params: _*) {
        builds += 1
      }
    build(1)
    build(1)
    assert(builds == 1)
    Files.writeString(Paths.get(in, "b.txt"), "b")
    build(1)
    assert(builds == 2, "a new input file must rebuild")
    build(2)
    assert(builds == 3, "changed params must rebuild")
  }
}
