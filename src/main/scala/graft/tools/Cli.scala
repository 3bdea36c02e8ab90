package graft.tools

/** The one command-line parser of the tools: PlanProbe, PlanDump and Scale
  * read their arguments through [[parseArgs]].
  */
object Cli {

  /** A parsed command line: the positionals in order, the bare flags
    * (e.g. `--plan`) and the `--set` confs.
    */
  final case class Args(positional: Seq[String],
                        flags: Set[String],
                        sets: Seq[(String, String)]) {

    /** Positional `i` as an Int, or `default` when there are fewer. */
    def int(i: Int, default: Int): Int = positional.lift(i).fold(default)(_.toInt)
  }

  /** Flags are position-independent ("--plan" must not be consumed as a
    * positional); the value after a literal `--set` is a conf, never a
    * positional, and `--set=k=v` is the same conf. A conf with no `=` or an
    * empty key throws IllegalArgumentException.
    */
  def parseArgs(args: Seq[String]): Args = {
    def conf(kv: String): (String, String) = kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(
        s"--set expects spark.conf.key=value, got '$kv'")
    }
    @scala.annotation.tailrec
    def go(rest: List[String], pos: Vector[String], flags: Set[String],
           sets: Vector[(String, String)]): Args = rest match {
      case Nil => Args(pos, flags, sets)
      case "--set" :: kv :: tail => go(tail, pos, flags, sets :+ conf(kv))
      case "--set" :: Nil => throw new IllegalArgumentException(
        "--set needs a spark.conf.key=value after it")
      case a :: tail if a.startsWith("--set=") =>
        go(tail, pos, flags, sets :+ conf(a.stripPrefix("--set=")))
      case a :: tail if a.startsWith("--") => go(tail, pos, flags + a, sets)
      case a :: tail => go(tail, pos :+ a, flags, sets)
    }
    go(args.toList, Vector.empty, Set.empty, Vector.empty)
  }
}
