package graft.tools

/** Argument handling shared by the dev tools: a bad invocation prints the
  * tool's usage line and exits 2 instead of dying in a MatchError or a
  * NumberFormatException.
  */
private[tools] object DevArgs {
  def usage(line: String): Nothing = {
    System.err.println(s"usage: $line")
    sys.exit(2)
  }

  /** `SPARK_GRAFT_CPUS` (default 32) as a positive core count. */
  def cpus(line: String): Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toIntOption
      .filter(_ > 0)
      .getOrElse(usage(s"$line (SPARK_GRAFT_CPUS must be a positive integer)"))
}
