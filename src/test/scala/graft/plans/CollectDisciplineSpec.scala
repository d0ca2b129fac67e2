package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/**
 * Mechanized bounded-collect discipline (VERDICT r14 #7): every
 * driver-side `.collect()` in a QUERY path must go through
 * [[graft.util.Bounded.boundedCollect]], which asserts a declared row
 * bound — the audit that each pull is model/centroid/codebook/
 * deletion-list-sized was prose until now. This sweep greps the main
 * source tree and fails naming the site when a raw collect appears
 * outside the helper or the harness allowlist, so an unbounded collect
 * cannot ship unreviewed.
 *
 * Allowlist rationale (EXACT occurrence counts, not whole files — ADVICE
 * r15: a whole-file exemption let any future raw collect in Bench ship
 * unflagged): `Bounded.scala`'s one collect IS the helper; `Bench.scala`'s
 * one is the codegen warm-up on a literal range; `tools/` are dev probes,
 * not query paths. A NEW raw collect in an allowlisted file overshoots
 * its pinned count and fails with the full site list for review.
 */
class CollectDisciplineSpec extends AnyFunSuite {

  private val Root = java.nio.file.Paths.get("src/main/scala/graft")

  /** file → number of reviewed raw collects it is allowed to contain. */
  private val Allowed: Map[String, Int] = Map(
    "src/main/scala/graft/util/Bounded.scala" -> 1,
    "src/main/scala/graft/Bench.scala" -> 1)

  test("no raw .collect() in src/main query paths outside Bounded.boundedCollect") {
    import scala.jdk.CollectionConverters._
    // toLocalIterator is the same unbounded driver pull with a streaming
    // façade — swept alongside collect; .head()/.first() are left alone
    // (textually indistinguishable from Scala-collection heads, and a
    // 1-row pull can't be unbounded)
    val raw = "\\.(collect(AsList)?|toLocalIterator)\\(\\)".r
    val files = java.nio.file.Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.toString.startsWith("src/main/scala/graft/tools/"))
      .toSeq
    assert(files.nonEmpty, s"sweep found no sources under $Root — run from the repo root")
    val sites: Seq[(String, Seq[String])] = files.map { p =>
      val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator.zipWithIndex.toSeq
      // comment lines (Scaladoc citing the rule) are not call sites —
      // the pre-r16 whole-file allowlist masked them; the counted one
      // must not trip on prose
      p.toString -> lines.collect {
        case (line, i) if raw.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    val offenders = sites.flatMap { case (path, hits) =>
      val budget = Allowed.getOrElse(path, 0)
      if (hits.size <= budget) Nil
      else if (budget == 0) hits
      else (s"$path: ${hits.size} raw collects vs $budget reviewed " +
        "(a new one appeared — review it, then re-pin the count):") +: hits
    }
    assert(offenders.isEmpty,
      "raw driver-side collect in a query path — route it through " +
        "graft.util.Bounded.boundedCollect with a declared bound, or " +
        "restructure so the frame stays distributed:\n" +
        offenders.mkString("\n"))
  }
}
