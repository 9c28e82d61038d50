package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Using

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.operators.Relational
import graft.pipelines.CardPipeline

class CardPipelineSpec extends SpecBase {
  import spark.implicits._

  test("entry produces a non-empty card table with unique card ids") {
    val cards = SparkEntry.entry(spark).cache()
    val n = cards.count()
    assert(n > 0)
    assert(cards.select($"card_id").distinct().count() == n)
    assert(cards.columns.contains("card_score"))
  }

  test("branch merge keeps one row per content key with org branch counts") {
    val branches = CardPipeline.flatBranches(spark, SfDir).cache()
    val n = branches.count()
    assert(branches.select($"branch_key").distinct().count() == n)
    // counts are consistent: per-org row count equals the annotated count
    val bad = branches.groupBy($"organization_id", $"organization_branch_count")
      .agg(count(lit(1)).as("actual"))
      .filter($"actual" =!= $"organization_branch_count").count()
    assert(bad == 0)
  }

  test("card scores follow the multiplicative tiers") {
    val cards = SparkEntry.entry(spark)
    val bad = cards.filter($"card_score" <= 0).count()
    assert(bad == 0)
    val urgent = cards.filter($"branch_id".isNotNull && $"card_score" === 0.0).count()
    assert(urgent == 0)
  }

  test("cards carry geo point ids, collapse keys and formatted phones") {
    val cards = SparkEntry.entry(spark).cache()
    // national services collapse to the sentinel point key
    assert(cards.filter($"national_service" && $"point_id" =!= "national_service").count() == 0)
    // non-national points carry the 14-digit fixed-format id (7 digits per coordinate)
    val badPoint = cards.filter(!$"national_service" && !$"point_id".rlike("^[0-9]{14}$")).count()
    assert(badPoint == 0, "point_id must be the dot-stripped %08.5f pair")
    // phones follow the xx-xxx-xxxx grouping
    val badPhone = cards
      .filter(!element_at($"organization_phone_numbers", 1).rlike("^[0-9]{3}-[0-9]{3}-[0-9]{4}$"))
      .count()
    assert(badPhone == 0)
    assert(cards.filter(length($"collapse_key") === 0).count() == 0)
  }

  test("per-stage stats match the stage row deltas (stats.py posture)") {
    val (cards, stats) = CardPipeline.cardsWithStats(spark, SfDir)
    val byName = stats.collect()
      .map(r => r.getAs[String]("stat") -> ((r.getAs[Long]("kept"), r.getAs[Long]("dropped"))))
      .toMap
    assert(byName.size == 3)

    // branch merge: kept = post-dedup branches; kept + dropped = the
    // stage's input (every order joins its customer, so input = orders)
    val branches = CardPipeline.flatBranches(spark, SfDir)
    val (bKept, bDropped) = byName("Processing: Branches: Duplicate Branch")
    assert(bKept == branches.count())
    assert(bKept + bDropped == Tables.orders(spark, SfDir).count())

    // card dedup: kept = final cards; kept + dropped = lineitems landing
    // on a surviving representative branch row
    val flatN = Tables.lineitem(spark, SfDir)
      .select($"l_orderkey".as("branch_id"))
      .join(branches, "branch_id").count()
    val nCards = cards.count()
    val (cKept, cDropped) = byName("Processing: Cards: Duplicate Service Branch")
    assert(cKept == nCards)
    assert(cKept + cDropped == flatN)

    // point gate: a partition of the final card table
    val (pKept, pDropped) = byName("Processing: Cards: No Point")
    assert(pKept == cards.filter($"point_id".isNotNull).count())
    assert(pKept + pDropped == nCards)
  }

  test("orphan organizations: cards and branch stat match the merge-after-join order") {
    // sf0.001 with every c_custkey % 7 == 0 customer removed: their
    // orders reference no organization
    val dir = Files.createTempDirectory("graft_orphan_orgs")
    try {
      Tables.customer(spark, SfDir).filter($"c_custkey" % 7 =!= 0)
        .write.parquet(dir.resolve("customer.parquet").toString)
      Seq("orders", "lineitem").foreach { t =>
        Files.copy(Paths.get(SfDir, s"$t.parquet"), dir.resolve(s"$t.parquet"))
      }
      val orders = Tables.orders(spark, dir.toString)
      val joinable = orders.join(Tables.customer(spark, dir.toString),
        $"o_custkey" === $"c_custkey", "left_semi")
      val nJoinable = joinable.count()
      assert(nJoinable < orders.count(), "the fixture must hold orphan orders")

      // the reference's order: inner join first, then keep the first row
      // per branch_key
      val refBranches = Relational.dedupKeepFirst(
        joinable.select($"o_orderkey".as("branch_id"), $"o_custkey".as("organization_id"),
          $"o_orderdate".as("branch_date"),
          F.hashKey($"o_custkey", $"o_orderstatus", $"o_orderpriority").as("branch_key")),
        keys = Seq($"branch_key"), order = Seq($"branch_date", $"branch_id"))
        .withColumn("organization_branch_count",
          count(lit(1)).over(Window.partitionBy($"organization_id")))
      val refCards = Tables.lineitem(spark, dir.toString)
        .select($"l_orderkey".as("branch_id"), $"l_linenumber".as("service_seq"))
        .join(refBranches, "branch_id")
        .select(F.hashKey($"branch_key", F.hashKey($"branch_id", $"service_seq")).as("card_id"),
          $"branch_id", $"organization_id", $"organization_branch_count")
        .distinct()

      val (cards, stats) = CardPipeline.cardsWithStats(spark, dir.toString)
      val got = cards.select($"card_id", $"branch_id", $"organization_id",
        $"organization_branch_count").collect().toSeq
      val want = refCards.collect().toSeq
      assert(got.size == want.size)
      assert(got.toSet == want.toSet)
      val branchStat = stats.filter($"stat" === "Processing: Branches: Duplicate Branch").head()
      assert(branchStat.getAs[Long]("kept") + branchStat.getAs[Long]("dropped") == nJoinable)
    } finally {
      CheckpointRegistry.releaseAll()
      Using.resource(Files.walk(dir))(_.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))
    }
  }
}
