package graftbench

/** Prints the pin file (perfbench/pins.json) for the current tree: each
  * query's full-materialization (rows, hash) and the crawl workload's trace
  * digest. Pin only after the query outputs pass the oracle check
  * (graft.Verify + tools/check_oracles.py) and the crawl digests pass the
  * benchmark's pages-derived seen-digest check.
  *
  * Usage: Pin --data <dir> --work <dir>
  */
object Pin {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    def ctxFor(w: String) = new Ctx(Main.Args(w, 0L, 1, trace = false, m("data"), m("work"),
      "", ""))
    val qctx = ctxFor("query-pass")
    val spark = qctx.session(qctx.cores)
    val queries = graft.SparkEntry.queries.keys.toSeq.sorted.map { n =>
      n -> QueryWorkload.fingerprint(graft.SparkEntry.queries(n)(spark, m("data")))._1
    }
    qctx.stopSession()
    val c = ctxFor(CrawlWorkload.Name)
    val digests = Seq(CrawlWorkload.Name -> new CrawlWorkload(c).pinTraceDigest())
    c.stopSession()
    println("{\n  \"queries\": {\n" + queries.map { case (n, (r, h)) =>
      s"""    "$n": [$r, $h]""" }.mkString(",\n") + "\n  },\n  \"trace_digest\": {\n" +
      digests.map { case (n, d) => s"""    "$n": $d""" }.mkString(",\n") + "\n  }\n}")
  }
}
