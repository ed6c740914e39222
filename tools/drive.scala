// a trailing `*` is a name prefix: `mm_*` expands to every registry
// query starting with `mm_`, in sorted order
val names = sys.env.getOrElse("DRIVE_QUERIES", "dedup_prefix_jaccard").split(",").toSeq.flatMap { n =>
  if (!n.endsWith("*")) Seq(n)
  else {
    val hits = graft.queries.Registry.queries.keys.filter(_.startsWith(n.dropRight(1))).toSeq.sorted
    require(hits.nonEmpty, s"no registry query matches $n")
    hits
  }
}
val sf = sys.env.getOrElse("DRIVE_SF", "/root/testdata/sf0.01")
val out = sys.env.getOrElse("DRIVE_OUT", "/tmp/v_one")
new java.io.File(out).mkdirs()
spark.conf.set("spark.sql.shuffle.partitions", "8")
names.foreach { n =>
  val t0 = System.nanoTime
  graft.queries.Registry.queries(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
  println(f"[drive] $n done in ${(System.nanoTime - t0) / 1e9}%.2f s")
}
def q(s: String): String = "\"" + s.flatMap {
  case '"'  => "\\\""
  case '\\' => "\\\\"
  case '\n' => "\\n"
  case '\r' => "\\r"
  case '\t' => "\\t"
  case c if c < ' ' => f"\\u${c.toInt}%04x"
  case c => c.toString
} + "\""
val json = names.flatMap(n => graft.queries.Registry.oracleSql.get(n).map(o => s"${q(n)}: ${q(o)}")).mkString("{", ",", "}")
java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
sys.exit(0)
