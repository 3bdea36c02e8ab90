package graft

import graft.tools.{Cli => PlanProbe}
import graft.tools.Cli.Args
import org.scalatest.funsuite.AnyFunSuite

/** PlanProbe's command line: `--set` values are confs, never positionals. */
class PlanProbeSpec extends AnyFunSuite {

  test("the value after --set is a conf, not a positional") {
    assert(PlanProbe.parseArgs(Seq("q1", "--set", "k=v")) ==
      Args(Seq("q1"), Set.empty, Seq("k" -> "v")))
    assert(PlanProbe.parseArgs(Seq("q1", "dir", "--set", "k=v")) ==
      Args(Seq("q1", "dir"), Set.empty, Seq("k" -> "v")))
    assert(PlanProbe.parseArgs(Seq("--set", "a=1", "q1", "dir", "5", "--set", "b=x=y")) ==
      Args(Seq("q1", "dir", "5"), Set.empty, Seq("a" -> "1", "b" -> "x=y")))
  }

  test("--set=k=v yields (k, v); bare flags sit anywhere") {
    assert(PlanProbe.parseArgs(Seq("--set=k=v", "q1", "--plan", "dir", "--stages")) ==
      Args(Seq("q1", "dir"), Set("--plan", "--stages"), Seq("k" -> "v")))
  }

  test("a --set without key=value throws IllegalArgumentException") {
    for (args <- Seq(Seq("q1", "--set", "novalue"), Seq("q1", "--set", "=v"),
                     Seq("--set=k"), Seq("--set==v"), Seq("q1", "--set")))
      intercept[IllegalArgumentException](PlanProbe.parseArgs(args))
  }
}
