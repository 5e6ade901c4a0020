package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural checks on the registry: a repeated name fails the
  * registry's construction (naming the name), the registry holds every
  * family's queries, and the census lists and schemas stay in step with
  * it. Each query carries its oracle in the same `Query` value, so a
  * query without an oracle cannot be written. */
class RegistryIntegritySpec extends AnyFunSuite {

  test("a repeated query name fails registry construction and is named") {
    val q = graft.registry.Query("dup_name",
      (s, _) => s.range(1).toDF(), "SELECT 1")
    val other = q.copy(name = "other_name")
    val e = intercept[IllegalArgumentException](
      new graft.registry.Registry(Seq(q, other, q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("dup_name"), e.getMessage)
    assert(!e.getMessage.contains("other_name"), e.getMessage)
  }

  test("the registry holds all 397 queries") {
    // a family left out of Registry.default fails here
    assert(SparkEntry.queries.size == 397)
  }

  test("plan-census exclusion list names only real registry queries") {
    // EagerQueries is the shared justified exclusion set for the plan
    // censuses; a renamed/deleted query must not leave a stale entry
    // silently weakening nothing (or worse, masking a future query
    // that reuses the name without being eager).
    val stale = EagerQueries.names -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"EagerQueries entries not in registry: $stale")
  }

  /** the queries whose CONSTRUCTION runs Spark jobs: micro-batch
    * replays (stream_* by design) and the justified EagerQueries set */
  private def eagerNames: Set[String] =
    SparkEntry.queries.keySet.filter(_.startsWith("stream_")) ++
      EagerQueries.names

  test("declared-schema map covers exactly the eager query set") {
    // both staleness directions: an eager query without a declaration
    // is a census hole; a declaration without an eager query is stale
    // (or worse, masks a future lazy query reusing the name, which the
    // census would then never construct).
    val missing = eagerNames -- DeclaredSchemas.map.keySet
    val stale = DeclaredSchemas.map.keySet -- eagerNames
    assert(missing.isEmpty,
      s"eager queries without a declared schema (run the deep census " +
        s"to generate): $missing")
    assert(stale.isEmpty, s"declared schemas for non-eager names: $stale")
  }

  test("output-schema census: no registry query emits a top-level " +
    "array/map/struct column") {
    // The driver's correctness harness loads both result sets into
    // pandas and sorts every column to hash rows; an ndarray/dict-valued
    // cell makes that sort throw (`unhashable type`), so the query's
    // oracle compare silently degrades to `err` instead of failing CI.
    // Canonical fix at the query site: serialize the collection as an
    // exact string (`concat_ws(";", col.cast("array<string>"))` — the
    // embedding / text_hashed_features precedent). This census covers
    // EVERY registry query so the next array-valued query fails here,
    // not in the driver: lazy queries by constructing their plan
    // (cheap — no jobs run), eager queries via DeclaredSchemas (their
    // construction replays streams / fits models / writes scratch
    // stores — the cost ADVICE r13 flagged; deep validation of the
    // declared strings runs under SPARK_GRAFT_FULL_CENSUS=1, next test).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    import TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val eager = eagerNames
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (eager(name)) {
        // declared row type must be flat: any complex type inside the
        // outer struct<...> is harness-unhashable at SOME level (a
        // nested one only exists inside a top-level complex column)
        val inner = DeclaredSchemas.map(name).stripPrefix("struct<")
        Seq("array<", "map<", "struct<").collect {
          case t if inner.contains(t) => s"$name (declared): $inner"
        }.distinct
      } else {
        val schema = SparkEntry.queries(name)(spark, sf).schema
        schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    }
    assert(offenders.isEmpty,
      "harness-unhashable top-level columns (serialize them as " +
        s"strings):\n${offenders.mkString("\n")}")
  }

  test("deep census (SPARK_GRAFT_FULL_CENSUS=1): declared schemas " +
    "equal live schemas bit-for-bit") {
    // the validation leg of the escape hatch: constructs every eager
    // query end-to-end (dozens of sf0.001 replay/fit jobs — the cost
    // the declared map removes from the default suite) and requires
    // each declared string to equal the live simpleString. Run after
    // any eager-query output change and once per round pre-freeze; on
    // mismatch the message prints the corrected map entries verbatim.
    assume(sys.env.contains("SPARK_GRAFT_FULL_CENSUS"),
      "deep census runs only with SPARK_GRAFT_FULL_CENSUS=1")
    import TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val bad = eagerNames.toSeq.sorted.flatMap { name =>
      val live = SparkEntry.queries(name)(spark, sf).schema.simpleString
      if (DeclaredSchemas.map.get(name).contains(live)) Nil
      else Seq(s"""    "$name" ->\n      "$live",""")
    }
    assert(bad.isEmpty,
      s"declared schemas out of date — paste into DeclaredSchemas:\n" +
        bad.mkString("\n"))
  }
}
