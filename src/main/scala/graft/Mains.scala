package graft

/** What the Bench and Verify mains share: the registry filter a local run
  * applies, and the JSON string escaper for the files they write. */
private[graft] object Mains {

  /** Registry entries this run covers. `SPARK_GRAFT_ONLY` and
    * `SPARK_GRAFT_SKIP` hold comma-separated substrings: an entry runs when
    * its name contains some ONLY substring (unset: every entry) and no SKIP
    * substring. SKIP lets scale runs drop query families whose fixtures are
    * invalid at that scale (ScaleGen replicates embedding vectors as exact
    * clones, so embedding-similarity pair counts there model nothing real).
    * Full gate runs set neither. */
  def selected: Seq[SparkEntry.Entry] = {
    def substrings(v: String) = sys.env.get(v).map(_.split(",").toSeq)
    val only = substrings("SPARK_GRAFT_ONLY")
    val skip = substrings("SPARK_GRAFT_SKIP")
    SparkEntry.registry.filter { e =>
      only.forall(_.exists(e.name.contains)) && !skip.exists(_.exists(e.name.contains))
    }
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in a query name, an error message or oracle
    * SQL would otherwise make the reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
