package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import graft.operators.{Dedup, DriverCutover}

/** Both branches of every driver cutover: each site's oracled query runs
  * once with [[DriverCutover.MaxRowsKey]] unset (every sf0.001 input sits
  * under its site's cap, so the driver branch runs) and once with it at 0
  * (the distributed branch), and the two must return the same rows.
  */
class DriverCutoverSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val sites = Seq(
    "q_dedup_groups" -> "Dedup.connectedComponents",
    "q_dedup_embedding" -> "Dedup.cellPrune",
    "q_pagerank" -> "Graphs.pageRank",
    "q_entity_match" -> "EntityResolution.fuzzyParts",
    "q_bpe_train" -> "Bpe.learnedMerges",
    "q_media_dup_groups" -> "Multimodal.verifiedPairs")

  /** The query's rows (sorted) and how many times `site` took its
    * driver and its distributed branch while it ran. */
  private def run(query: String, site: String): (Seq[String], Long, Long) = {
    val (d0, x0) = (DriverCutover.driverRuns(site), DriverCutover.distributedRuns(site))
    val rows = SparkEntry.queries(query)(spark, sf).collect().map(_.toString).toSeq.sorted
    (rows, DriverCutover.driverRuns(site) - d0, DriverCutover.distributedRuns(site) - x0)
  }

  sites.foreach { case (query, site) =>
    test(s"$query: $site returns the same rows on its driver and distributed branches") {
      assert(spark.conf.getOption(DriverCutover.MaxRowsKey).isEmpty)
      val (driver, driverRuns, driverSideDist) = run(query, site)
      val (dist, distSideDriver, distRuns) =
        withConf(DriverCutover.MaxRowsKey -> "0")(run(query, site))
      assert(driver.nonEmpty, s"$query returned no rows")
      assert(driverRuns > 0 && driverSideDist == 0,
        s"unset: driver $driverRuns, distributed $driverSideDist")
      assert(distSideDriver == 0 && distRuns > 0,
        s"0: driver $distSideDriver, distributed $distRuns")
      assert(driver == dist, s"first difference: ${driver.diff(dist).take(3)} vs " +
        s"${dist.diff(driver).take(3)}")
    }
  }

  test("connected components re-enters its driver labels as one partition: the " +
    "group tails plan no Exchange and return the distributed branch's rows") {
    val site = "Dedup.connectedComponents"
    Seq[(String, () => DataFrame)](
      "minhashDupGroups" -> (() => Dedup.minhashDupGroups(spark, sf)),
      "ngramDupGroups" -> (() => Dedup.ngramDupGroups(spark, sf))).foreach { case (name, q) =>
      // the cutover's collect runs while the frame is built, so each
      // branch builds and runs its frame under its own conf
      def run(): (Seq[String], String) = {
        val df = q()
        val rows = df.collect().map(_.toString).toSeq
        (rows, df.queryExecution.executedPlan.toString)
      }
      val d0 = DriverCutover.driverRuns(site)
      val (driver, driverPlan) = run()
      assert(DriverCutover.driverRuns(site) > d0, s"$name: the driver branch did not run")
      val (dist, distPlan) = withConf(DriverCutover.MaxRowsKey -> "0")(run())
      assert(driver.nonEmpty && driver == dist, s"$name: ${driver.diff(dist).take(3)} vs " +
        s"${dist.diff(driver).take(3)}")
      assert(!driverPlan.contains("Exchange"), s"$name driver tail:\n$driverPlan")
      assert(distPlan.contains("Exchange"), s"$name distributed tail:\n$distPlan")
    }
  }

  test("the key lowers a site's cap and 0 runs no gate action") {
    import spark.implicits._
    val five = (1 to 5).toDF("x")
    withConf(DriverCutover.MaxRowsKey -> "3") {
      assert(DriverCutover.collect("spec", five, 1L << 20).isEmpty)
      assert(DriverCutover.collect("spec", five.limit(3), 1L << 20).map(_.length).contains(3))
      assert(DriverCutover.collect("spec", five.limit(3), 2).isEmpty, "the site cap still binds")
      assert(DriverCutover.fits("spec", spark, 1L << 20)(3) &&
        !DriverCutover.fits("spec", spark, 1L << 20)(4))
    }
    assert(DriverCutover.collect("spec", five, 5).map(_.length).contains(5))
    withConf(DriverCutover.MaxRowsKey -> "0") {
      val boom = udf((x: Int) => { if (x > 0) sys.error("gate action ran"); x })
      assert(DriverCutover.collect("spec", five.select(boom(col("x"))), 1L << 20).isEmpty)
      assert(!DriverCutover.fits("spec", spark, 1L << 20)(sys.error("bound evaluated")))
    }
  }
}
