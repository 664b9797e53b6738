package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.RunConfig

/** `vs_prev` compares a bench run only with a previous run measured under
  * the same config; each query's spread entry carries its compile count. */
class BenchSpec extends AnyFunSuite {
  private val cfg = RunConfig("4", "/data/sf0.1", 4, 4096L, "abc123")
  private val medians = Map("q_a" -> 2.0, "q_b" -> 8.0)

  private def prevFile(config: Option[RunConfig]): String =
    """{"metric":"total","canary_geomean_sec":0.500,"spread":{""" +
      """"q_a":{"min":0.5,"median":1.000,"max":1.5},"q_b":{"min":3.0,"median":4.000,"max":5.0}}""" +
      config.map("," + _.toJson).getOrElse("") + "}"

  private def field(json: String, name: String): String =
    ("\"" + name + "\":([^,}]*)").r.findFirstMatchIn(json).get.group(1)

  test("config round-trips through bench_full.json") {
    assert(RunConfig.parse(prevFile(Some(cfg))).contains(cfg))
    assert(RunConfig.parse(prevFile(None)).isEmpty)
  }

  test("same config: normalized geomean is raw over canary ratio") {
    val (json, warning) = Bench.compareToPrev(Some(prevFile(Some(cfg.copy(gitHead = "old")))),
      "prev.json", cfg, medians, canary = 1.0)
    assert(warning.isEmpty)
    assert(field(json, "config_match") == "true")
    assert(field(json, "shared_n") == "2")
    assert(field(json, "raw_geomean") == "2.000")
    assert(field(json, "canary_ratio") == "2.000")
    assert(field(json, "normalized_geomean") == "1.000")
  }

  test("a different config is flagged and not normalized") {
    val prev = cfg.copy(cpus = "32", nproc = 32)
    val (json, warning) = Bench.compareToPrev(Some(prevFile(Some(prev))),
      "prev.json", cfg, medians, canary = 1.0)
    assert(field(json, "config_match") == "false")
    assert(field(json, "normalized_geomean") == "0.000")
    assert(field(json, "raw_geomean") == "2.000")
    assert(warning.exists(w => w.contains("cpus 32 -> 4") && w.contains("nproc 32 -> 4")))
    assert(!warning.exists(_.contains("sf")))
  }

  test("a previous file without a config is flagged and not normalized") {
    val (json, warning) = Bench.compareToPrev(Some(prevFile(None)),
      "prev.json", cfg, medians, canary = 1.0)
    assert(field(json, "parse_ok") == "true")
    assert(field(json, "config_match") == "false")
    assert(field(json, "normalized_geomean") == "0.000")
    assert(warning.exists(_.contains("records no run config")))
  }

  test("a missing previous file is flagged") {
    val (json, warning) = Bench.compareToPrev(None, "nope.json", cfg, medians, canary = 1.0)
    assert(field(json, "parse_ok") == "false")
    assert(field(json, "config_match") == "false")
    assert(field(json, "shared_n") == "0")
    assert(warning.exists(_.contains("nope.json")))
  }

  test("a spread entry records the median compiles per sample") {
    val entry = Bench.spreadEntry("q_a", Vector(1.0, 3.0, 2.0), Vector(4L, 0L, 1L))
    assert(entry.startsWith("\"q_a\":{\"min\":1.000,\"median\":2.000,\"max\":3.000"))
    assert(field(entry, "compiles") == "1.0")
    // the entry still parses as a previous run's median
    val (json, _) = Bench.compareToPrev(Some(s"""{"spread":{$entry}}"""), "prev.json", cfg,
      Map("q_a" -> 4.0), canary = 1.0)
    assert(field(json, "shared_n") == "1")
    assert(field(json, "raw_geomean") == "2.000")
  }
}
