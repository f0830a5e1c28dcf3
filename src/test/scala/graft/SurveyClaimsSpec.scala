package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Mechanical guard against SURVEY.md overstating the committed artifacts
  * (the r9 AND r10 verdicts each caught a claim the official
  * `CORRECTNESS_r*.json` / `BENCH_r*.json` contradicted). SURVEY now carries
  * ONE machine-readable `artifact-claims` block; this spec recomputes every
  * claimed number from the artifact files themselves and fails the build on
  * any drift — so a claim can only be committed if the artifact backs it.
  *
  * Checked:
  *  - the block anchors to the NEWEST on-disk correctness/bench artifacts
  *    (no anchoring to an older, more flattering round);
  *  - correctness_total / correctness_green / correctness_red equal the
  *    entry count, all-three-gates-true count, and any-gate-false list;
  *  - bench_total_sec equals the official contract line's "value";
  *  - bench_weak_gate equals the set of queries over the verdict's weak
  *    gate (> 2× DuckDB AND > 0.8 s absolute) against DUCKDB_BASELINE.json.
  */
class SurveyClaimsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Newest ON-DISK artifact in the repo root (cwd must be the repo root,
    * which is where sbt runs). This is deliberately an on-disk ratchet, not
    * a git-tracked check: a fresh driver-written artifact immediately
    * obligates the claims block, so commit each round's artifacts together
    * with the claims-block refresh in one commit.
    */
  private def latestArtifact(prefix: String): String = {
    // official artifacts only: a `_cN` core-count cross-check
    // (BENCH_r17_c8.json) sorts above its round but is not an anchor
    val official = (java.util.regex.Pattern.quote(prefix) + "(\\d+)\\.json").r
    val rounds = new java.io.File(".").listFiles().map(_.getName)
      .collect { case n @ official(r) => r.toInt -> n }
    assert(rounds.nonEmpty, s"no $prefix<N>.json artifacts in repo root")
    rounds.max._2
  }

  private lazy val claims: Map[String, String] = {
    val survey = readFile("SURVEY.md")
    val block = "(?s)<!-- artifact-claims\\n(.*?)-->".r
      .findFirstMatchIn(survey)
    assert(block.isDefined, "SURVEY.md must carry one artifact-claims block")
    block.get.group(1).linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val Array(k, v) = l.split(":", 2); k.trim -> v.trim
      }.toMap
  }

  private def claimedSet(key: String): Set[String] =
    claims(key) match {
      case "none" => Set.empty
      case s      => s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    }

  test("claims block anchors to the newest on-disk artifacts") {
    assert(claims("correctness_artifact") === latestArtifact("CORRECTNESS_r"),
      "correctness claim must cite the latest CORRECTNESS_r*.json")
    assert(claims("bench_artifact") === latestArtifact("BENCH_r"),
      "bench claim must cite the latest BENCH_r*.json")
  }

  test("correctness claims match the cited artifact, gate by gate") {
    val root = mapper.readTree(readFile(claims("correctness_artifact")))
    val entries = root.fields().asScala.toSeq.map(e => e.getKey -> e.getValue)
    def green(n: JsonNode) =
      n.get("rows_match").asBoolean() && n.get("schema_match").asBoolean() &&
        n.get("hash_match").asBoolean()
    val reds = entries.collect { case (q, n) if !green(n) => q }.toSet
    assert(entries.size === claims("correctness_total").toInt,
      "claimed query total != artifact entry count")
    assert(entries.count(e => green(e._2)) === claims("correctness_green").toInt,
      "claimed green count != artifact all-gates-true count")
    assert(reds === claimedSet("correctness_red"),
      s"claimed red set != artifact red set ($reds)")
  }

  test("bench claims match the cited artifact against the DuckDB baseline") {
    val tail = mapper.readTree(readFile(claims("bench_artifact")))
      .get("tail").asText()
    val line = tail.linesIterator.filter(_.startsWith("{\"metric\""))
      .toSeq.lastOption
    assert(line.isDefined, "no contract line in the bench artifact's tail")
    val bench = mapper.readTree(line.get)
    assert(bench.get("value").asDouble() === claims("bench_total_sec").toDouble,
      "claimed bench total != artifact contract-line value")
    val base = mapper.readTree(readFile("DUCKDB_BASELINE.json"))
    val weak = bench.get("queries").fields().asScala.collect {
      case e if {
        val d = Option(base.get(s"q::${e.getKey}")).map(_.asDouble())
        val s = e.getValue.asDouble()
        d.exists(dd => s > 0.8 && s > 2.0 * dd)
      } => e.getKey
    }.toSet
    assert(weak === claimedSet("bench_weak_gate"),
      s"claimed weak-gate set != recomputed set ($weak)")
  }
}
