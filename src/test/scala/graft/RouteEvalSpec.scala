package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.RouteEval

/** RouteEval's command line: the documented `out=<file>` form names the
  * output file, and a flag is never read as a positional.
  */
class RouteEvalSpec extends AnyFunSuite {

  test("out=<file> names the output file; --scale is a flag, not the output") {
    assert(RouteEval.parseArgs(Seq("/data/sf1", "8, 64", "out=/tmp/re/x.json", "--scale")) ==
      RouteEval.Args("/data/sf1", Seq(8, 64), "/tmp/re/x.json", scale = true))
    assert(RouteEval.parseArgs(Seq("/data/sf1", "80", "plain.json")).out == "plain.json")
    val dflt = RouteEval.parseArgs(Seq("--scale", "/data/sf1/", "80"))
    assert(dflt.out == "ROUTEEVAL_sf1.json" && dflt.scale && dflt.ks == Seq(80))
  }
}
