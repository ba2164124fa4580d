package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.api.{DedupIndex, Mnemo, MnemoStore}
import graft.api.Mnemo.{RecallRequest, RememberRequest}

/** The agent workload: one fresh `MnemoStore` and one `DedupIndex`
  * that every operation shares, so a write-path change that costs
  * recall or space shows up in the same run. The traffic has the shape
  * of the repository's write-path bench (`graft.BenchWrites`, which
  * mirrors the reference engine's criterion suite): 1000-row remember
  * batches over a store seeded with two of them, 100-id forgets, ten
  * interleaved agents, and 1000-document index batches of which 10%
  * re-post an earlier document. Memory contents are documents of the
  * bundled `documents` table, so rows carry prose of the corpus's
  * length. Contents, ids, agents and recall targets come from the
  * seed. Every memory also carries a unique marker token, which makes
  * the expected lexical recall known: the marker's memory is the only
  * one with a non-zero score. */
final class AgentMemory(seed: Long, dataDir: String, workDir: String) extends Workload {
  import AgentMemory._

  val name = "agent_memory"
  val passOps: Seq[String] = Seq("remember", "recall_lexical", "recall_lexical",
    "recall_hybrid", "forget", "recall_forgotten", "verify_chains", "index_ingest")
  val nominalPassS = 8.0
  /** A fixed session cycle: what an operation costs depends on the
    * store state the operations before it left (new segments, tombstones),
    * so a seed-shuffled order would make every seed a different workload. */
  override def passOrder(order: Random): Seq[String] = passOps

  private val rnd = new Random(seed)
  private var texts: IndexedSeq[String] = IndexedSeq.empty
  private var store: MnemoStore = _
  private var index: DedupIndex = _
  private var root: Path = _
  private var serial = 0
  private var docSerial = 0L
  private var ingestRows = 0L
  private var ingestFlagged = 0L
  private var contentBytes = 0L
  private val live = mutable.ArrayBuffer[Mem]()
  private val forgotten = mutable.ArrayBuffer[Mem]()
  private val ingested = mutable.ArrayBuffer[String]()
  private var instance = 0

  private final case class Mem(id: String, agent: String, marker: String)

  private def ts(sec: Long) = new Timestamp(BaseMs + sec * 1000L)
  private def now = ts(serial + 3600L)
  /** An index document in the write-path bench's form, unique per
    * serial. */
  private def indexDoc(n: Long) = s"document number $n with shared content tail"

  def prepare(spark: SparkSession): Unit = {
    instance += 1
    root = Paths.get(workDir, s"agent-$instance")
    texts = graft.Tables.documents(spark, dataDir).select("text").collect()
      .map(_.getString(0)).toIndexedSeq
    store = Mnemo.open(spark, root.resolve("store").toString)
    index = new DedupIndex(spark, root.resolve("index").toString, capacity = IndexCapacity)
    live.clear(); forgotten.clear(); ingested.clear()
    serial = 0; docSerial = 0L; ingestRows = 0L; ingestFlagged = 0L; contentBytes = 0L
    (1 to SeedBatches).foreach(_ => remember(RememberBatch))
    forget()
    require(ingest(spark), "seed ingest: wrong verdicts")
  }

  private def remember(n: Int): Unit = {
    val batch = (0 until n).map { _ =>
      serial += 1
      val m = Mem(f"mem-$serial%07d", s"agent-${rnd.nextInt(Agents)}", f"mk$serial%07d")
      live += m
      val content = s"${texts(rnd.nextInt(texts.length))} ${m.marker}"
      contentBytes += content.getBytes("UTF-8").length
      RememberRequest(id = m.id, agentId = m.agent, threadId = s"t${serial % 8}",
        content = content, importance = 0.5f, tags = Seq("bench"), createdAt = ts(serial))
    }
    store.remember(batch)
  }

  /** Forgets a few live memories of one agent; returns them. */
  private def forget(): Seq[Mem] = {
    val agent = live(rnd.nextInt(live.length)).agent
    val picked = rnd.shuffle(live.filter(_.agent == agent).toSeq).take(ForgetIds)
    store.forget(agent, picked.map(_.id), now)
    live --= picked
    forgotten ++= picked
    picked
  }

  private def ingest(spark: SparkSession): Boolean = {
    import spark.implicits._
    val resent =
      if (ingested.isEmpty) Nil else Seq.fill(IngestBatch / 10)(ingested(rnd.nextInt(ingested.length)))
    val fresh = Seq.tabulate(IngestBatch - resent.length)(i => indexDoc(docSerial + i + 1))
    val docs = (fresh ++ resent).map { t => docSerial += 1; (docSerial, t) }
    val out = index.ingest(docs.toDF("doc_id", "text"))
      .select("doc_id", "maybe_dup").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ingested ++= fresh
    ingestRows += docs.length
    ingestFlagged += out.values.count(_ == 1)
    val dupIds = docs.drop(fresh.length).map(_._1)
    out.size == docs.length && dupIds.forall(id => out.get(id).contains(1))
  }

  private def visible(agent: String) = live.filter(_.agent == agent)

  private def recall(m: Mem, agent: String, strategy: String): (Seq[String], Double, Double, Double) = {
    val t0 = System.nanoTime()
    val df = store.recallVisible(agent, RecallRequest(query = m.marker, strategy = strategy,
      limit = RecallLimit), now)
    val t1 = System.nanoTime()
    val q = df.select(col("id"))
    q.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val ids = q.collect().map(_.getString(0)).toSeq
    val t3 = System.nanoTime()
    (ids, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  def run(spark: SparkSession, op: String): OpResult = op match {
    case "remember" => timed("write")(() => { remember(RememberBatch); true })
    case "forget" => timed("write")(() => forget().nonEmpty)
    case "index_ingest" => timed("write")(() => ingest(spark))
    case "verify_chains" =>
      val agent = live(rnd.nextInt(live.length)).agent
      val t0 = System.nanoTime()
      val df = store.verifyChains(agent)
      val t1 = System.nanoTime()
      // row count and broken links in the one forcing job
      val agg = df.agg(count(lit(1)), sum(when(!col("chain_valid"), 1L).otherwise(0L)))
      agg.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val r = agg.collect()(0)
      val t3 = System.nanoTime()
      val rows = r.getLong(0)
      val broken = if (r.isNullAt(1)) 0L else r.getLong(1)
      val expected = (live ++ forgotten).count(_.agent == agent).toLong
      OpResult((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        broken == 0L && rows == expected, "chain_check", s"broken=$broken rows=$rows/$expected")
    case "recall_lexical" =>
      val m = live(rnd.nextInt(live.length))
      val (ids, b, p, e) = recall(m, m.agent, "lexical")
      OpResult(b, p, e, ids.headOption.contains(m.id), "ids", s"top=${ids.headOption}")
    case "recall_hybrid" =>
      val m = live(rnd.nextInt(live.length))
      val (ids, b, p, e) = recall(m, m.agent, "hybrid")
      val allowed = visible(m.agent).map(_.id).toSet
      OpResult(b, p, e, ids.nonEmpty && ids.length <= RecallLimit && ids.forall(allowed),
        "ids", s"n=${ids.length}")
    case "recall_forgotten" =>
      val m = forgotten(rnd.nextInt(forgotten.length))
      val (ids, b, p, e) = recall(m, m.agent, "lexical")
      OpResult(b, p, e, !ids.contains(m.id), "ids", s"n=${ids.length}")
  }

  private def timed(kind: String)(f: () => Boolean): OpResult = {
    val t0 = System.nanoTime()
    val ok = f()
    OpResult((System.nanoTime() - t0) / 1e9, 0.0, 0.0, ok, kind, "")
  }

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.length.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  /** Store and index facts: rows, files, bytes on disk, logical
    * content bytes and the index's flagged fraction. */
  def facts: Map[String, Double] = {
    val (files, bytes) = dirStats(root.resolve("store"))
    val (_, ixBytes) = dirStats(root.resolve("index"))
    Map("rows" -> (live.length + forgotten.length).toDouble, "files" -> files.toDouble,
      "bytes" -> bytes.toDouble, "content_bytes" -> contentBytes.toDouble,
      "index_bytes" -> ixBytes.toDouble, "index_rows" -> ingestRows.toDouble,
      "dup_frac" -> (if (ingestRows == 0) 0.0 else ingestFlagged.toDouble / ingestRows))
  }

  override def report: Seq[(String, String)] =
    facts.toSeq.sortBy(_._1).map { case (k, v) => s"store.$k" -> Stats.num(v) }
}

object AgentMemory {
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  /** Sizes of `graft.BenchWrites`: `batch`, its seeded store of two
    * batches, `forgetIdsPerOp`, the ten agents of its multi-agent
    * store, its 1000-document index batches (10% re-posts) and the
    * index capacity it declares (the documents of five batches), and
    * its recall limit. */
  val RememberBatch = 1000
  val SeedBatches = 2
  val ForgetIds = 100
  val Agents = 10
  val IngestBatch = 1000
  val IndexCapacity = 5000L
  val RecallLimit = 10
}
