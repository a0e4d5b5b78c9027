package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one place scratch locations come from: query sidecars, serving
  * temp dirs and harness temp dirs all live under [[root]], a fresh
  * directory per JVM under `java.io.tmpdir`. Two processes on one
  * machine therefore never share a sidecar, and a query's result and
  * time depend only on its inputs and on what ran before it in the
  * same JVM.
  *
  * The root is NOT deleted at JVM exit: the DuckDB twins in
  * [[SparkEntry.oracleSql]] read sidecars back after the JVM that
  * wrote them has ended. Whoever sets `java.io.tmpdir` owns the
  * cleanup (`tools/run_verify.sh` removes its own). */
object Scratch {

  val root: java.io.File =
    Files.createTempDirectory("graft_scratch").toFile.getAbsoluteFile

  /** A query-private sidecar dir under [[root]]; the same `name`
    * always maps to the same path within one JVM, so a query and its
    * `oracleSql` twin agree on where the sidecar lives. */
  def path(name: String): String = new java.io.File(root, name).getPath

  /** A new, unique dir under [[root]] (one per call). */
  def fresh(prefix: String): String =
    Files.createTempDirectory(root.toPath, prefix).toString

  private val built = new ConcurrentHashMap[String, String]
  private val locks = new ConcurrentHashMap[String, AnyRef]

  /** Run `build` for sidecar `name` unless this JVM already built it
    * under the same key: the listing (name, size, mtime) of every
    * `inputs` path plus `params`. Completion is recorded only after
    * `build` returns, so a build that throws is redone on the next
    * call; concurrent callers of one name wait on a per-name lock. */
  def once(spark: SparkSession, name: String, inputs: Seq[String],
           params: Any*)(build: => Unit): Unit = {
    val key = (inputs.map(listing(spark, _)) ++ params.map(String.valueOf))
      .mkString("|")
    locks.computeIfAbsent(name, _ => new AnyRef).synchronized {
      if (built.get(name) != key) {
        built.remove(name)
        build
        built.put(name, key)
      }
    }
  }

  private def listing(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(s"$path[", ";", "]")
  }
}
