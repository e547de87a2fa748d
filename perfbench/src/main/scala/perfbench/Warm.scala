package perfbench

/** Runs a tiny pass of the named workloads in one JVM, so that the
  * launcher can record the classes they load in a class-data-sharing
  * archive at exit; every run then starts from that archive.
  *
  *   perfbench.Warm <dir> <cores> <workload>...   (dir/<workload>/in holds the inputs)
  */
object Warm {
  def main(args: Array[String]): Unit = {
    val Array(dir, cores) = args.take(2)
    args.drop(2).foreach { w =>
      Main.main(Array(w, s"$dir/$w/in", s"$dir/$w/work", "1", "1", "0", "tiny", "0", cores))
    }
  }
}
