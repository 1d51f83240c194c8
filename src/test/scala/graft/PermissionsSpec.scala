package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Permissions
import graft.functions.Clean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O19-O23 permission/metadata predicates + O7 JSON shape coercion. */
class PermissionsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // shared_with holds UIDs (the reference checks `uid in shared_with`,
  // main.py:540); the shares collection carries the grantee email but
  // the READ gate never consults it (main.py:543-545).
  private lazy val folders = Seq(
    ("u1", "f1", Seq.empty[String]),
    ("u1", "f2", Seq("u9")),
    ("u2", "f3", Seq.empty[String]),
    ("u2", "f4", Seq.empty[String])
  ).toDF("owner_uid", "folder_id", "shared_with")

  private lazy val shares = Seq(
    ("u2", "f4", "alice@x.com")
  ).toDF("owner_id", "folder_id", "email")

  test("accessibleFolders: owner + shared_with(uid) + unfiltered share-doc union") {
    val u1 = Permissions.accessibleFolders(folders, shares, "u1")
      .select("folder_id").collect().map(_.getString(0)).toSet
    assert(u1 == Set("f1", "f2", "f4")) // owns f1/f2; f4 has A share doc
    // The share-doc arm grants to ANY principal — the reference's loose
    // gate (main.py:543-545 probes only folderId+ownerId existence).
    val u9 = Permissions.accessibleFolders(folders, shares, "u9")
      .select("folder_id").collect().map(_.getString(0)).toSet
    assert(u9 == Set("f2", "f4")) // shared_with membership + loose share arm
  }

  test("canAccess point checks (the reference's request gate)") {
    assert(Permissions.canAccess(folders, shares, "u1", "f1"))
    assert(Permissions.canAccess(folders, shares, "u1", "f4"))
    assert(!Permissions.canAccess(folders, shares, "u1", "f3"))
    assert(Permissions.canAccess(folders, shares, "u9", "f2"))
    assert(!Permissions.canAccess(folders, shares, "zz", "f1"))
    assert(Permissions.canAccess(folders, shares, "zz", "f4"),
      "any share doc for (owner, folder) grants — reference main.py:543-545")
  }

  // The equivalence grid: every NULL the gate's predicate can meet
  // (owner_uid, shared_with, an element of it, a share's owner or
  // folder, the principal, the folder asked for), one folder_id under
  // two owners with a share doc for only one of them, and a share doc
  // naming an owner who does not own that folder_id.
  private lazy val gridFolders = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("u1", "f1", Seq.empty[String]),
      Row("u1", "f2", Seq("u9")),
      Row("u2", "f3", null),
      Row("u2", "f4", Seq("u8", null)),
      Row(null, "f5", Seq("u9")),
      Row(null, "f6", null),
      Row("u3", "f7", Seq.empty[String]),
      Row("u4", "f7", Seq("u9")),
      Row("u5", "f8", Seq.empty[String]),
      Row("u7", null, Seq("u8"))),
    StructType(Seq(StructField("owner_uid", StringType),
      StructField("folder_id", StringType),
      StructField("shared_with", ArrayType(StringType)))))
  private val shareSchema = StructType(Seq(StructField("owner_id", StringType),
    StructField("folder_id", StringType), StructField("email", StringType)))
  private lazy val gridShares = spark.createDataFrame(
    java.util.Arrays.asList(
      Row("u2", "f4", "a@x.com"),
      Row("u4", "f7", "b@x.com"),
      Row("u6", "f8", "c@x.com"),
      Row(null, "f3", "d@x.com"),
      Row("u7", null, "e@x.com")),
    shareSchema)
  private lazy val noShares = spark.createDataFrame(
    java.util.Collections.emptyList[Row](), shareSchema)
  private val gridUids =
    Seq("u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8", "u9", "zz", null)
  private val gridFolderIds =
    Seq("f1", "f2", "f3", "f4", "f5", "f6", "f7", "f8", "nope", null)

  /** canAccess against its set definition — the folders
    * `accessibleFolders` grants whose folder_id EQUALS (SQL `=`, so a
    * NULL folderId matches nothing) `folderId` — over the grid. */
  private def assertGridEquivalence(folders: DataFrame, shares: DataFrame): Unit =
    gridUids.foreach { uid =>
      val granted = Permissions.accessibleFolders(folders, shares, uid)
        .select("folder_id").collect().map(_.getString(0)).toSet
      gridFolderIds.foreach { f =>
        assert(Permissions.canAccess(folders, shares, uid, f) ==
          (f != null && granted(f)), s"canAccess($uid, $f)")
      }
    }

  test("canAccess equals the accessibleFolders definition over a NULL-laden grid") {
    assertGridEquivalence(gridFolders, gridShares)
    assertGridEquivalence(gridFolders, noShares)
    // Spot checks of the grid's intent.
    assert(Permissions.canAccess(gridFolders, gridShares, "zz", "f7"),
      "f7's share doc names owner u4, so every principal passes")
    assert(!Permissions.canAccess(gridFolders, gridShares, "zz", "f8"),
      "a share doc for an owner who does not own f8 grants nothing")
    assert(Permissions.canAccess(gridFolders, gridShares, null, "f4"))
    assert(!Permissions.canAccess(gridFolders, noShares, "u9", "f4"))
  }

  test("canAccess equals the accessibleFolders definition on file-backed metadata") {
    val dir = tempDir("graft-perm-grid")
    gridFolders.write.parquet(s"$dir/folders")
    gridShares.write.parquet(s"$dir/shares")
    noShares.write.parquet(s"$dir/no-shares")
    val folders = spark.read.parquet(s"$dir/folders")
    assertGridEquivalence(folders, spark.read.parquet(s"$dir/shares"))
    assertGridEquivalence(folders, spark.read.parquet(s"$dir/no-shares"))
  }

  test("canAccess on in-memory metadata starts no Spark job") {
    val sc = spark.sparkContext
    val group = s"permissions-pin-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (p.exists(_.getProperty("spark.job.description") == "drained"))
            drained.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "canAccess")
      for (uid <- gridUids; f <- gridFolderIds; s <- Seq(gridShares, noShares))
        Permissions.canAccess(gridFolders, s, uid, f)
      Permissions.canAccess(folders, shares, "zz", "f4")
      // Listener events arrive in order: once this job's start is
      // seen, every job the checks started has been counted.
      sc.setJobDescription("drained")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, s"canAccess started ${jobs.get} Spark job(s)")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(l)
    }
  }

  test("resolveFolder inverts the nested-loop scan to one filter") {
    val r = Permissions.resolveFolder(folders, "f3").collect()
    assert(r.length == 1 && r.head.getAs[String]("owner_uid") == "u2")
    assert(Permissions.resolveFolder(folders, "nope").isEmpty)
    // Principal-aware form (main.py:784-791): only folders the uid
    // owns or is shared on resolve.
    assert(Permissions.resolveFolder(folders, "f2", Some("u9")).count() == 1)
    assert(Permissions.resolveFolder(folders, "f3", Some("u9")).isEmpty)
  }

  test("parseJsonMap: object, fenced object, list coercion, garbage (O7)") {
    val inputs = Seq(
      """{"a": "1", "b": "x"}""",
      "```json\n{\"a\": \"2\"}\n```",
      """[{"a": "3"}, {"a": "ignored"}]""",
      """[]""",
      "not json at all")
    val got = inputs.toDF("j")
      .select(Clean.parseJsonMap(col("j")).as("m"))
      .collect().map(r => r.getMap[String, String](0).toMap)
    assert(got(0) == Map("a" -> "1", "b" -> "x"))
    assert(got(1) == Map("a" -> "2"))
    assert(got(2) == Map("a" -> "3"))
    assert(got(3) == Map.empty)
    assert(got(4) == Map.empty)
  }

  test("mapToKeyValueList reshapes to the reference's [{key,value}] form") {
    val df = Seq(1).toDF("x")
      .withColumn("m", map(lit("k1"), lit("v1"), lit("k2"), lit("v2")))
    val kv = Permissions.mapToKeyValueList(df, "m")
      .selectExpr("explode(kv) AS e").select("e.key", "e.value")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kv == Set("k1" -> "v1", "k2" -> "v2"))
  }
}
