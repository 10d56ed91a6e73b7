package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-keyed warm stores: the one way the query registry persists a
  * reusable artifact (band/exact/component indexes, the n-gram and
  * histogram stores, the release-manifest chain, the media and
  * cross-modal index families, the IVF/PQ vector indexes).
  *
  * An artifact's path is a function of everything that built it — the
  * artifact name, its parameters and version tokens, the corpus dir, and
  * a content tag over the input table files ([[dirTag]]) — so a rewritten
  * corpus or a changed parameter re-keys to a fresh path instead of being
  * trusted, and an unchanged corpus warm-serves across calls and JVM
  * restarts. With the tag in the path, a committed marker IS validity.
  * Every dir is keyed the same way; the read-only testdata fixtures get
  * no special case.
  */
private[graft] object WarmStores {

  /** Content tag for `dir`, derived from the named top-level tables
    * (e.g. "documents", "embeddings"): a hash of every underlying parquet
    * file's (name, size, mtime) — O(file-listing), no data scan. A missing
    * table contributes nothing — callers name the tables their store is a
    * function of.
    */
  def dirTag(s: SparkSession, dir: String, tables: String*): String = {
    val conf = s.sparkContext.hadoopConfiguration
    var acc = 1125899906842597L
    tables.sorted.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          entries += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
        }
        entries.sorted.foreach(e => acc = acc * 1000003L + e.hashCode)
      }
    }
    "_" + java.lang.Long.toHexString(acc)
  }

  /** The untagged artifact root: `tmpdir/graft_<name>_<hex(dir)>`, one
    * `_<param>` segment per parameter or version token.
    */
  def key(dir: String, name: String, params: Any*): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_" +
      java.lang.Integer.toHexString(dir.hashCode) + params.map("_" + _).mkString

  /** The process token `pid<pid>`: the last parameter of a store that
    * each process rewrites for itself (Verify and Bench running side by
    * side must never share one), and the suffix of every [[dumpDir]].
    */
  val Pid: String = s"pid${ProcessHandle.current().pid()}"

  /** The pid-scoped dump root `tmpdir/graft_<q>_pid<pid>` of a registered
    * query's side-effect artifacts: the engine dumps there, the oracle
    * SQL interpolates the same path, and DuckDB replays over the files
    * the engine wrote.
    */
  def dumpDir(q: String): String = s"${sys.props("java.io.tmpdir")}/graft_${q}_$Pid"

  /** The warm store `name` over `table` of `dir`: serves the artifact at
    * [[key]] plus [[dirTag]] when every `committed` subdirectory (none =
    * the artifact root itself) carries its `_SUCCESS`, else runs
    * `build(path)` first. Returns the path. Builds run under this
    * object's (reentrant) lock, so a build may nest another artifact.
    */
  def artifact(s: SparkSession, dir: String, table: String, name: String, params: Any*)(
      committed: String*)(build: String => Unit): String = {
    val path = key(dir, name, params: _*) + dirTag(s, dir, table)
    val dirs = if (committed.isEmpty) Seq(path) else committed.map(c => s"$path/$c")
    synchronized {
      if (!dirs.forall(graft.ops.StoreSwap.committed(s, _))) build(path)
    }
    path
  }

  /** The common `build`: `df` overwrites the artifact path as zstd
    * parquet. By-name, so a served artifact never plans `df`.
    */
  def zstd(df: => DataFrame): String => Unit = graft.ops.StoreSwap.write(df, _)
}
