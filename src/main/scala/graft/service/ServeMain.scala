package graft.service

/** Deployment entry point: bind the HTTP front over a lake directory
  * and serve until killed — the engine-side `uvicorn main:app`
  * (`src/api/main.py:398`). Usage:
  *
  *   sbt "runMain graft.service.ServeMain [sfDir] [port]"
  *
  * Defaults: the sf0.01 test lake on an ephemeral port (printed).
  * The session is [[graft.Session]]'s defaults: every core (or
  * `SPARK_GRAFT_CPUS`), one shuffle partition per core, and FAIR
  * scheduling so concurrent HTTP callers share executors by request
  * class (QueryService's pool discipline); a cluster deployment sets
  * `SPARK_MASTER` and nothing else. */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val port = args.lift(1).map(_.toInt).getOrElse(0)
    val spark = graft.Session("graft-serve")
    val front = new HttpFront(spark, sfDir, port).start()
    println(s"graft-serve listening on http://127.0.0.1:${front.boundPort} " +
      s"(lake: $sfDir); dashboard at /dashboard")
    // serve until the process is killed (uvicorn semantics)
    Thread.currentThread().join()
  }
}
