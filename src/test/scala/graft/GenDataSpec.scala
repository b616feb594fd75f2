package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.examples.GenData

class GenDataSpec extends AnyFunSuite {

  test("GenData takes [outDir [scaleFactor]] and refuses flag-like or unknown arguments") {
    assert(GenData.parseArgs(Nil) == Right(("/tmp/graft_sf1", 1.0)))
    assert(GenData.parseArgs(Seq("/data/sf2")) == Right(("/data/sf2", 1.0)))
    assert(GenData.parseArgs(Seq("/data/sf2", "2.5")) == Right(("/data/sf2", 2.5)))
    // a flag is never taken for the output directory, which is overwritten
    for (args <- Seq(Seq("--help"), Seq("-h"), Seq("--out", "/x"), Seq("/x", "--sf")))
      assert(GenData.parseArgs(args).left.exists(_.contains("unknown option")), args)
    assert(GenData.parseArgs(Seq("/x", "1", "extra")).left.exists(_.contains("unexpected argument")))
    for (sf <- Seq("abc", "0", "Infinity", "NaN"))
      assert(GenData.parseArgs(Seq("/x", sf)).left.exists(_.contains("not a positive number")), sf)
    assert(GenData.Usage.startsWith("usage: GenData"))
  }
}
