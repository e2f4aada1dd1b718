package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.QuerySpec.{Oracle, RowsOnly}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The query contract as one list: `SparkEntry.specs` must name every
  * query once, give each an oracle or a stated reason for having none,
  * and agree with Verify's synth tables and the documented counts. No
  * Spark session: these checks read the specs, not query output.
  */
class QuerySpecSpec extends AnyFunSuite {
  private val specs = SparkEntry.specs

  /** Table names an oracle reads as `__SYNTH__/<name>.parquet`. */
  private val synthRe = "__SYNTH__/([A-Za-z0-9_]+)\\.parquet".r
  private def synthReads(sql: String): Set[String] =
    synthRe.findAllMatchIn(sql).map(_.group(1)).toSet

  test("query names are unique") {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty, s"duplicated query names: ${dups.toSeq.sorted}")
  }

  test("every spec is an Oracle with SQL or RowsOnly with a stated reason") {
    specs.foreach { q =>
      q.check match {
        case Oracle(sql)      => assert(sql.trim.nonEmpty, s"${q.name}: empty oracle SQL")
        case RowsOnly(reason) => assert(reason.trim.nonEmpty, s"${q.name}: RowsOnly without a reason")
      }
    }
  }

  test("the rows-only set is exactly q19, q21, q98") {
    val rowsOnly = specs.collect { case QuerySpec(n, _, RowsOnly(_)) => n }.toSet
    assert(rowsOnly == Set("q19_simhash", "q21_minhash_pairs", "q98_jpeg_error"))
  }

  test("queries and oracleSql are projections of specs") {
    val queries = SparkEntry.queries
    assert(queries.keySet == specs.map(_.name).toSet)
    assert(queries.size == specs.size)
    val oracled = specs.collect { case QuerySpec(n, _, Oracle(sql)) => n -> sql }.toMap
    assert(SparkEntry.oracleSql == oracled)
  }

  test("every synth table an oracle reads is built by Verify, and every built table is read") {
    val read = specs.collect { case QuerySpec(_, _, Oracle(sql)) => synthReads(sql) }.flatten.toSet
    val built = Verify.synthTables.map(_._1)
    assert(built.distinct.size == built.size, s"duplicated synth tables: ${built.diff(built.distinct)}")
    assert((read -- built).isEmpty, s"oracles read synth tables Verify never writes: ${(read -- built).toSeq.sorted}")
    assert((built.toSet -- read).isEmpty, s"Verify writes synth tables no oracle reads: ${(built.toSet -- read).toSeq.sorted}")
  }

  test("README and the verify skill state the counts derived from specs") {
    val nQueries = specs.size
    val nOracled = specs.count(_.check.isInstanceOf[Oracle])
    def read(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    val readme = read("README.md")
    val m = "(\\d+) queries,\\s+(\\d+)\\s+DuckDB-oracled".r.findFirstMatchIn(readme)
      .getOrElse(fail("README.md: no '<n> queries, <m> DuckDB-oracled' count"))
    assert((m.group(1).toInt, m.group(2).toInt) == ((nQueries, nOracled)), "README.md counts drifted")
    val skill = read(".claude/skills/verify/SKILL.md")
    val sq = "all (\\d+) queries".r.findFirstMatchIn(skill)
      .getOrElse(fail("SKILL.md: no 'all <n> queries' count"))
    val so = "\\((\\d+) oracle queries\\)".r.findFirstMatchIn(skill)
      .getOrElse(fail("SKILL.md: no '(<m> oracle queries)' count"))
    assert((sq.group(1).toInt, so.group(1).toInt) == ((nQueries, nOracled)), "SKILL.md counts drifted")
    val survey = "(\\d+)/(\\d+) driver\\s+queries".r.findFirstMatchIn(read("SURVEY.md"))
      .getOrElse(fail("SURVEY.md: no '<m>/<n> driver queries' count"))
    assert((survey.group(2).toInt, survey.group(1).toInt) == ((nQueries, nOracled)), "SURVEY.md counts drifted")
  }

  test("README's graft.<pkg> bullets name exactly the packages under src/main/scala/graft") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val bullets = "(?m)^- `graft\\.([a-z]+)`".r.findAllMatchIn(readme).map(_.group(1)).toSet
    val pkgs = scala.util.Using.resource(Files.list(Paths.get("src/main/scala/graft")))(
      _.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet)
    assert(bullets == pkgs,
      s"README has no bullet for ${pkgs -- bullets}; bullets for missing packages ${bullets -- pkgs}")
  }
}
