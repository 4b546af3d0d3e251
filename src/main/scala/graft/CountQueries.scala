package graft

/** Registry census: per-family registered/oracle counts read from each
  * family's registry, then the totals and the rows-only names — the
  * source of truth behind SURVEY §2.12's family index (the round-15
  * index drifted from the registry by hand-count; this prints the rows
  * verbatim so the table is copied, never re-derived).
  */
object CountQueries {
  def main(args: Array[String]): Unit = {
    SparkEntry.families.foreach { case (f, registry) =>
      val o = registry.values.count(_.oracleSql.isDefined)
      println(f"$f%-12s registered=${registry.size}%3d oracle=$o%3d")
    }
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    println(s"queries=${qs.size} oracles=${os.size} " +
      s"rows_only=${(qs -- os).toSeq.sorted.mkString(",")}")
  }
}
