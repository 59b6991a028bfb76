package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The batch operator catalog (`graft.SparkEntry.queries`), timed by
  * collecting each result in full: every output column is computed, so
  * column pruning cannot skip work the way a `count()` can.
  */
object BatchOps {

  /** Operator module of a query, by its name. The four modules that
    * report their own walls are `dedup`, `text`, `pipeline` and
    * `search_ops`.
    */
  def module(query: String): String = query match {
    case "t6_bm25" | "v10_hybrid_rrf" => "retrieval"
    case "v7_ivf_kmeans" => "ml"
    case "q_asof_join" | "q_range_join" => "temporal"
    case q if q.startsWith("d") => "dedup"
    case q if q.startsWith("t") => "text"
    case q if q.startsWith("p") => "pipeline"
    case q if q.startsWith("v") => "search_ops"
    case q if q.startsWith("q") => "relational"
    case q if q.startsWith("s") => "sketches"
    case q if q.startsWith("e") => "events"
    case q if q.startsWith("m") => "multimodal"
    case q if q.startsWith("x") => "transactional"
    case q => throw new IllegalArgumentException(s"no module for query $q")
  }

  val ReportedModules: Seq[String] = Seq("dedup", "text", "pipeline", "search_ops")

  /** The timed subset: one query from each module that reports its own
    * wall, chosen for the per-call persists (d2, v9) and the plans a
    * `count()` prunes to a bare scan (t3, p4). The whole catalog (66
    * queries without the x1/x2 CRUD pair) needs ~80 s for one cold pass
    * on 4 cores, more than a run can spend.
    */
  val Timed: Seq[String] = Seq(
    "d2_dedup_minhash", "t3_lang_id", "p4_decontaminate", "v9_multiquery_funnel")

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    Timed.map(q => q -> graft.SparkEntry.queries(q))

  /** Order-insensitive digest of a result: row count and the sum of
    * per-row hashes of the rows' canonical string forms.
    */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      sum += scala.util.hashing.MurmurHash3.stringHash(render(r)).toLong & 0xffffffffL
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  /** A value's string form with binary payloads spelled out (an array's
    * own toString is its identity) and map entries sorted.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
