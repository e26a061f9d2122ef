package perfbench

import java.io.File

/** Entry point of one benchmark run; `run.py` builds the classpath and
  * passes the checkout-relative directories.
  *
  *   --workload orders_stream|catalog_mix --seed N
  *   --seconds S --trace 0|1 --work DIR --cache DIR --data DIR --golden FILE
  *   [--sf sf0.01] [--corrupt QUERY]
  *   --record-golden FILE --work DIR --data DIR
  *
  * The last stdout line is the run's JSON result. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "orders_stream" -> (ctx => Stream.run(ctx)),
    "catalog_mix" -> (ctx => Catalog.run(ctx, Catalog.mix, "q05_enriched")))

  /** The scale both workloads run at; the self-check passes sf0.001. */
  val defaultSf = "sf0.01"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work"))
    val data = new File(opts("data"))
    work.mkdirs()
    opts.get("record-golden") match {
      case Some(out) =>
        val bySf = Seq("sf0.01", "sf0.001").map { sf =>
          val ctx = new Ctx(0L, 0.0, false, work, work, new File(data, sf).getPath, Map.empty, None)
          try sf -> Catalog.record(ctx) finally ctx.stopSession()
        }
        Golden.write(new File(out), bySf)
      case None =>
        val name = opts("workload")
        val workload = workloads.getOrElse(name,
          throw new IllegalArgumentException(s"unknown workload $name; one of ${workloads.keys.toSeq.sorted}"))
        val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
          work, new File(opts("cache")), new File(data, opts.getOrElse("sf", defaultSf)).getPath,
          Golden.load(new File(opts("golden"))),
          opts.get("corrupt"))
        try workload(ctx) finally ctx.stopSession()
        println(ctx.report.json)
    }
  }
}
