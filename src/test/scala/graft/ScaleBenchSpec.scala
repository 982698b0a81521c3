package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The ScaleBench artifact fold: a run merges the prior
  * BENCH_SCALE.json's per-entry minima into its `best` series before it
  * overwrites the file, so the prior must be read or the run must stop. */
class ScaleBenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("the prior-run fold reads per-entry minima; a missing artifact " +
    "is an empty series, an unreadable one throws") {
    val dir = Files.createTempDirectory("scalebench_prior")
    val prior = dir.resolve("BENCH_SCALE.json")
    Files.write(prior, ("""{"b40_ivfpq_sec":3.5,"b40_results":10,""" +
      """"best":{"b40_ivfpq_sec":2.25,"b41_cms_restart_sec":7.0}}""")
      .getBytes(UTF_8))
    assert(ScaleBench.priorSecMinima(prior) ==
      Map("b40_ivfpq_sec" -> 2.25, "b41_cms_restart_sec" -> 7.0))
    assert(ScaleBench.priorSecMinima(dir.resolve("absent.json")).isEmpty)
    // a directory where the artifact should be: an IO error, not "no
    // prior series" — folding it as empty would erase the best series
    val blocked = Files.createDirectory(dir.resolve("blocked.json"))
    intercept[java.io.IOException](ScaleBench.priorSecMinima(blocked))
  }
}
