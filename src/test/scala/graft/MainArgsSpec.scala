package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.examples.PlanDump

/** The command-line mains refuse arguments that would do nothing or the
  * wrong thing, instead of running zero queries or dying mid-way. */
class MainArgsSpec extends AnyFunSuite {

  test("Verify takes <sfDir> <outDir> [queryPrefix ...] and refuses bad arity, flags and unknown prefixes") {
    assert(Verify.parseArgs(Seq("/sf", "/out")) == Right(("/sf", "/out", Nil)))
    assert(Verify.parseArgs(Seq("/sf", "/out", "q69", "q22")) == Right(("/sf", "/out", Seq("q69", "q22"))))
    for (args <- Seq(Nil, Seq("/sf")))
      assert(Verify.parseArgs(args).left.exists(_.contains("expected <sfDir> <outDir>")), args)
    for (args <- Seq(Seq("--help"), Seq("/sf", "/out", "-v"), Seq("-o", "/sf", "/out")))
      assert(Verify.parseArgs(args).left.exists(_.contains("unknown option")), args)
    assert(Verify.parseArgs(Seq("/sf", "/out", "q69", "zz_nothing"))
      .left.exists(_.contains("no query name starts with 'zz_nothing'")))
    assert(Verify.Usage.startsWith("usage: Verify"))
  }

  test("Bench takes query prefixes and refuses flags and prefixes that match no query") {
    assert(Bench.parseArgs(Nil) == Right(Nil))
    assert(Bench.parseArgs(Seq("q69", "q1_")) == Right(Seq("q69", "q1_")))
    for (args <- Seq(Seq("--help"), Seq("-h"), Seq("q69", "--sf")))
      assert(Bench.parseArgs(args).left.exists(_.contains("unknown option")), args)
    assert(Bench.parseArgs(Seq("q69", "nope")).left.exists(_.contains("no query name starts with 'nope'")))
    assert(Bench.Usage.startsWith("usage: Bench"))
  }

  test("PlanDump takes <outDir> <suffix> [queryName ...] and refuses flags, missing arguments and unknown names") {
    assert(PlanDump.parseArgs(Seq("/out", "before")) == Right(("/out", "before", Nil)))
    assert(PlanDump.parseArgs(Seq("/out", "after", "q69_dup_clusters")) == Right(("/out", "after", Seq("q69_dup_clusters"))))
    for (args <- Seq(Nil, Seq("/out")))
      assert(PlanDump.parseArgs(args).left.exists(_.contains("expected <outDir> <suffix>")), args)
    // `--help x` used to create a directory named --help
    for (args <- Seq(Seq("--help", "x"), Seq("-h"), Seq("/out", "before", "-v")))
      assert(PlanDump.parseArgs(args).left.exists(_.contains("unknown option")), args)
    // a prefix of a query name is not a query name
    assert(PlanDump.parseArgs(Seq("/out", "before", "q69")).left.exists(_.contains("no query named 'q69'")))
    assert(PlanDump.Usage.startsWith("usage: PlanDump"))
  }
}
