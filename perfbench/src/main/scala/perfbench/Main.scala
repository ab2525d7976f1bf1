package perfbench

/** Runs one workload and writes `result.json` into the work directory.
  *
  * Usage: perfbench.Main --workload <spine|headline_warm>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   --data <dir> [--smoke 1] [--corrupt 1]
  *        perfbench.Main --list   (prints "<sf> <query>" per checked query)
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      // the checked queries, for the expected-digest tooling
      HeadlineWarm.queries.foreach(q => println(s"sf0.01 $q"))
      return
    }
    val opts = Opts.parse(args)
    opts.work.mkdirs()
    val h = new Harness(opts)
    try {
      opts.workload match {
        case "spine" => Spine.run(h)
        case "headline_warm" => HeadlineWarm.run(h)
        case w => sys.error(s"unknown workload $w")
      }
      h.writeResult()
    } finally h.stop()
  }
}
