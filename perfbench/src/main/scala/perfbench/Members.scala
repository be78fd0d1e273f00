package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.CachedFrames

/** `catalog_mix`: catalog members called one at a time through
  * `SparkEntry.queries`, each result forced by one fingerprint aggregate
  * that is also its correctness check. The seed picks the member order;
  * the input is the bundled read-only fixture at each member's scale. */
object Members {
  val catalog: Seq[(String, String)] = Seq(
    "q04_" -> "sf0.01", "q206_" -> "sf0.01",   // star-schema SQL
    "q86_" -> "sf0.01", "q233_" -> "sf0.01",   // functions kernels
    "q128_" -> "sf0.01")                        // StreamOps state-store gate

  val expectedPath = "perfbench/expected.json"

  type Q = (SparkSession, String) => DataFrame

  /** (full member name, query, scale) for each (name prefix, scale). */
  def resolve(prefixes: Seq[(String, String)]): Seq[(String, Q, String)] = prefixes.map {
    case (p, scale) =>
      SparkEntry.queries.toSeq.filter(_._1.startsWith(p)) match {
        case Seq((name, fn)) => (name, fn, scale)
        case found => throw new IllegalStateException(s"member prefix $p matches ${found.map(_._1)}")
      }
  }

  /** Row count plus a wrapping 64-bit sum of `xxhash64` over every output
    * column: one aggregate that computes every projected column. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = d.agg(count(lit(1)),
      sum(xxhash64(d.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L))
  }

  /** `{"sf0.01/q04_join_shuffle": [rows, "hash"], ...}` */
  def readExpected(): Map[String, (Long, Long)] = {
    val s = new String(Files.readAllBytes(Paths.get(expectedPath)), StandardCharsets.UTF_8)
    "\"([A-Za-z0-9_./]+)\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*\"(-?\\d+)\"\\s*\\]".r.findAllMatchIn(s)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** Writes the fingerprints of every benchmarked member at its scale. */
  def record(ctx: Ctx): Unit = {
    val all = resolve(catalog).map { case (name, fn, scale) =>
      s"$scale/$name" -> fingerprint(fn(ctx.spark, Paths.get(ctx.args.data, scale).toString))
    }.sortBy(_._1)
    val body = all.map { case (k, (n, h)) => s"""  "$k": [$n, "$h"]""" }.mkString(",\n")
    Files.write(Paths.get(expectedPath), s"{\n$body\n}\n".getBytes(StandardCharsets.UTF_8))
  }
}

/** Set-up warms the JIT and codegen with one untimed pass over the same
  * members and inputs. */
final class Members(prefixes: Seq[(String, String)]) extends Workload {
  override def minPasses: Int = 2
  val members: Seq[(String, Members.Q, String)] = Members.resolve(prefixes)
  private lazy val expected = Members.readExpected()

  private def call(ctx: Ctx, fn: Members.Q, scale: String): (Long, Long) =
    Members.fingerprint(fn(ctx.spark, Paths.get(ctx.args.data, scale).toString))

  override def setup(ctx: Ctx): Unit = members.foreach { case (name, fn, scale) =>
    val t0 = System.nanoTime()
    try call(ctx, fn, scale)
    catch { case e: Exception => Main.log(s"warm-up $name: ${e.getMessage}") }
    Main.log(f"  warm-up $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    ctx.spark.catalog.clearCache()
  }

  override def pass(ctx: Ctx, passNo: Int): Pass = {
    val order = new scala.util.Random(ctx.seed * 1000003L + passNo).shuffle(members)
    val tracer = ctx.tracer.filter(_.attached)
    val sc = ctx.spark.sparkContext
    val secs = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    order.foreach { case (name, fn, scale) =>
      val id = tracer.map(_.newId()).getOrElse(-1)
      if (tracer.isDefined) {
        sc.setJobGroup(s"perfbench-member-$id", name)
        ctx.groupOwner(s"perfbench-member-$id") = id
      }
      val s = System.nanoTime()
      val c0 = Main.cpuS()
      val got = try Some(call(ctx, fn, scale))
        catch { case e: Exception =>
          Main.log(s"$name failed: ${e.getMessage}"); None }
      val e = System.nanoTime()
      cpu += Main.cpuS() - c0
      Main.log(f"  $name ${(e - s) / 1e9}%.3f s")
      if (tracer.isDefined) sc.clearJobGroup()
      secs += (e - s) / 1e9
      got.foreach(g => rows += g._1)
      val want = expected.get(s"$scale/$name")
      if (got.isEmpty || got != want) {
        failed += 1
        Main.log(s"$name fingerprint $got, expected $want")
      }
      tracer.foreach { tr =>
        tr.spanWithId(id, "member", name, s, e, s"perfbench-member-$id")
        tr.max("ops.checkpoint_live", CachedFrames.liveCount.toDouble)
      }
      ctx.spark.catalog.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(wall, rows, secs.sum, secs.toSeq, cpu.toSeq, secs.map(_ * 1000.0).toArray,
      members.size.toLong, failed)
  }
}
