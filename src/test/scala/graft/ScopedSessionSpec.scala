package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Kmeans, LinearModel}
import graft.sources.SnapshotTable

/** graft's internal scopes (control-plane probes, internal writes, the
  * trainers' loops) run under their own confs without writing the
  * caller's session conf: work planned on that session meanwhile, on
  * another thread, keeps the session's own confs. */
class ScopedSessionSpec extends AnyFunSuite with TempDirs {
  import ScopedSessionSpec._
  private lazy val spark = SparkTestBase.spark

  private def confs = spark.conf.getAll

  /** Runs `scope` on another thread, held inside the first task that
    * evaluates [[held]], runs `during` on this thread meanwhile, then
    * releases the scope and waits for it. */
  private def whileHeld[B](scope: => Any)(during: => B): B = {
    arm()
    try {
      val f = Future(scope)
      assert(started.await(60, TimeUnit.SECONDS), "the scope never reached its held task")
      val b = during
      release.countDown()
      Await.result(f, 120.seconds)
      b
    } finally disarm()
  }

  /** Runs `scope` on another thread and evaluates `sample` on this one
    * until the scope returns. */
  private def sampledDuring[B](scope: => Any)(sample: => B): Seq[B] = {
    val f = Future(scope)
    val seen = Seq.newBuilder[B]
    while (!f.isCompleted) { seen += sample; Thread.sleep(2) }
    Await.result(f, 300.seconds)
    seen.result()
  }

  private def shufflePartitions(df: DataFrame): Seq[Int] = {
    def of(p: SparkPlan): Seq[Int] = p match {
      case a: AdaptiveSparkPlanExec => of(a.executedPlan)
      case s: ShuffleExchangeExec => s.numPartitions +: of(s.child)
      case other => other.children.flatMap(of)
    }
    of(df.queryExecution.executedPlan)
  }

  private def table(prefix: String): String = {
    val dir = tempDir(prefix) + "/t"
    SnapshotTable.append(spark.range(8).toDF("id"), dir)
    dir
  }

  /** The parquet type of the first column of `dir`'s first file. */
  private def footerTimestampType(dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val file = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getFileMetaData.getSchema.getType(0).toString
    finally reader.close()
  }

  test("a user parquet write during an internal write keeps the session's timestamp type") {
    val root = tempDir("graft-scope-write")
    val user = spark.sql("SELECT TIMESTAMP'2024-01-02 03:04:05' AS ts")
    user.write.parquet(s"$root/before")
    val sessionType = footerTimestampType(s"$root/before")
    // the internal write's own encoding differs, or this checks nothing
    assert(!sessionType.contains("MICROS"), sessionType)
    val before = confs
    val (during, confsDuring) = whileHeld(SnapshotTable.append(
        spark.range(1).select(held(col("id")).as("id")), s"$root/t")) {
      user.write.parquet(s"$root/user")
      (footerTimestampType(s"$root/user"), confs)
    }
    assert(during == sessionType)
    assert(confsDuring == before)
    assert(confs == before)
    assert(SnapshotTable.read(spark, s"$root/t").count() == 1)
  }

  test("a user query planned during a probe gets adaptive execution") {
    val dir = table("graft-scope-probe")
    val before = confs
    val (plan, confsDuring) = whileHeld(
        SnapshotTable.deleteWhere(spark, dir, held(col("id")) === -1L)) {
      (spark.range(100).groupBy(col("id") % 3).count()
        .queryExecution.executedPlan, confs)
    }
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.treeString)
    assert(confsDuring == before)
    assert(confs == before)
  }

  test("a user aggregation planned during a BPE training loop keeps the session's shuffle partitions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val before = confs
    val seen = sampledDuring(Bpe.train(docs, "text", 20)) {
      (shufflePartitions(spark.range(100).groupBy(col("id") % 3).count()), confs)
    }
    assert(seen.nonEmpty)
    assert(seen.map(_._1).distinct == Seq(Seq(session)))
    assert(seen.forall(_._2 == before))
    assert(confs == before)
  }

  test("a conf the caller sets after a probe reaches the next probe") {
    val dir = table("graft-scope-reach")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    def probedConfs(): Seq[(String, String)] = {
      seen.clear()
      SnapshotTable.deleteWhere(spark, dir, recorded(col("id")) === -1L)
      seen.asScala.toSeq.distinct
    }
    try {
      spark.conf.set(key, "1000")
      assert(probedConfs() == Seq("false" -> "1000"))
      spark.conf.set(key, "2000")
      assert(probedConfs() == Seq("false" -> "2000"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the caller's conf is the same during and after every trainer") {
    import spark.implicits._
    val before = confs
    val vecs = spark.range(64).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array((0 until 4).map(j =>
        ((col("id") * (j + 3)) % 17).cast("float")): _*).as("embedding"))
    val xy = (0 until 64).map(i => (Seq(i % 7L, i % 5L, 1L), (i % 2).toLong))
      .toDF("x", "y")
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "the bat and the cat"))
      .toDF("doc_id", "text")
    Seq[() => Any](
      () => Bpe.trainBatched(docs, "text", 8),
      () => Kmeans.train(vecs, k = 3, iters = 4),
      () => LinearModel.logisticFit(xy, col("x"), col("y"), dim = 3, iters = 4)
    ).foreach { scope =>
      assert(sampledDuring(scope())(confs).forall(_ == before))
      assert(confs == before)
    }
  }

  test("a second identical probe and a second identical append compile no new classes") {
    val dir = tempDir("graft-scope-codegen") + "/t"
    val rows = spark.range(16).select(col("id"), (col("id") * 2).as("v"))
    def compiledBy(op: => Any): Long = {
      val c0 = org.apache.spark.GraftSparkTestBridge.compilations
      op
      org.apache.spark.GraftSparkTestBridge.compilations - c0
    }
    def append() = SnapshotTable.append(rows, dir)
    def probe() = SnapshotTable.deleteWhere(spark, dir, col("v") === -1L)
    append(); append(); probe()
    assert(compiledBy(append()) == 0)
    assert(compiledBy(probe()) == 0)
  }
}

object ScopedSessionSpec {
  @volatile private var started: CountDownLatch = null
  @volatile private var release: CountDownLatch = null

  private def arm(): Unit = {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }

  private def disarm(): Unit = {
    val r = release
    started = null
    release = null
    if (r != null) r.countDown()
  }

  /** Blocks the task evaluating it, once armed, until released. */
  private def hold(x: Long): Long = {
    val (s, r) = (started, release)
    if (s != null) { s.countDown(); r.await(120, TimeUnit.SECONDS) }
    x
  }

  private val held = udf((x: Long) => hold(x))

  /** The (adaptive execution, max records per file) confs each task
    * evaluating [[recorded]] ran under. */
  private val seen = new ConcurrentLinkedQueue[(String, String)]()
  private val recorded = udf { (x: Long) =>
    val c = SQLConf.get
    seen.add(c.getConfString("spark.sql.adaptive.enabled") ->
      c.getConfString("spark.sql.files.maxRecordsPerFile"))
    x
  }
}
