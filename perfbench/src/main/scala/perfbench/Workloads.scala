package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, QueryDef}
import graft.io.{RefFormats, Sinks, Tables, ZOrder}
import graft.ops.TimeSeriesOps
import graft.streaming.{StreamingOps, StreamingSinks}

/** State shared by the ops of one run. `dir` is the staged input directory
  * of the current pass; `out` is a scratch directory for the pass's writes. */
final class Ctx(val spark: SparkSession, val work: String, val base: String,
    val inputs: String, val tracer: Tracer, val seed: Long) {
  var dir: String = _
  /** The permuted variant `dir` was copied from (read by the DuckDB oracle). */
  var source: String = _
  var out: String = _
  var pass = 0
  /** Untimed per-op preparation results (e.g. micro-batches to replay). */
  val prepared = mutable.Map.empty[String, Any]
  /** Per-op counters the ops themselves report (bytes written, rows parsed,
    * micro-batch latencies); folded into the run's layer metrics. */
  val opNotes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val batchLatMs = mutable.ArrayBuffer.empty[Double]
  val streamProgress = mutable.ArrayBuffer.empty[Map[String, Double]]
  var releaseNs = 0L

  def release(): Unit = {
    val t0 = System.nanoTime()
    tracer.span("Caches.release", "caches.release")(Caches.release())
    releaseNs += System.nanoTime() - t0
  }
}

/** Output checks recorded during the check round. Oracle items are
  * compared in DuckDB after the run; the rest are decided here. */
final class Checks(val dir: String) {
  val items = mutable.ArrayBuffer.empty[Map[String, Any]]
  def oracle(op: String, path: String, tables: String): Unit =
    items += Map("op" -> op, "kind" -> "oracle", "path" -> path, "tables" -> tables)
  def decided(op: String, kind: String, ok: Boolean, detail: String): Unit =
    items += Map("op" -> op, "kind" -> kind, "ok" -> ok, "detail" -> detail)
}

/** One benchmark operation: a call into graft's public surface. `prep` runs
  * untimed before each execution; `run` is the timed part. `check` verifies
  * the op's output during the check round, untimed; with `checkAfterRun` it
  * inspects what `run` wrote, otherwise it executes the op itself. */
final case class Op(name: String, module: String, run: Ctx => Unit,
    check: (Ctx, Checks) => Unit, checkAfterRun: Boolean = false,
    prep: Option[Ctx => Unit] = None, writer: Option[String] = None,
    parser: Option[String] = None)

object Ops {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and order-insensitive sum of per-row hashes over `cols`,
    * compared as strings so inferred types (partition columns, int vs
    * bigint) agree. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val r = df.select(xxhash64(cols.map(c => col(c).cast(StringType)): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0)))
      .head()
    (r.getLong(0), r.getDecimal(1).toString)
  }

  /** Multiset equality of two frames over `cols`, one aggregate per side. */
  def sameRows(a: DataFrame, b: DataFrame, cols: Seq[String]): (Boolean, String) = {
    val (x, y) = (digest(a, cols), digest(b, cols))
    (x == y, s"output rows/hash-sum ${x._1}/${x._2}, expected ${y._1}/${y._2}")
  }

  /** A registered lane: build (`QueryDef.run`), execute into the noop sink,
    * release the lane's caches. Its check writes the output for the DuckDB
    * oracle, or, for lanes without an oracle, compares the row count with
    * the same lane over the unpermuted base tables. */
  def lane(name: String): Op = {
    val (module, qd) = Modules.lanes.getOrElse(name,
      sys.error(s"unknown lane $name"))
    Op(name, module, { ctx =>
      val df = ctx.tracer.span(s"$module.run", "ops.build")(qd.run(ctx.spark, ctx.dir))
      ctx.tracer.span("noop.save", "action")(noop(df))
      ctx.release()
    }, (ctx, ch) => checkLane(ctx, ch, qd))
  }

  private def checkLane(ctx: Ctx, ch: Checks, qd: QueryDef): Unit = {
    val df = qd.run(ctx.spark, ctx.dir)
    qd.oracle match {
      case Some(_) =>
        val path = s"${ch.dir}/${qd.name}"
        df.coalesce(1).write.mode("overwrite").parquet(path)
        ch.oracle(qd.name, path, ctx.source)
      case None =>
        val n = df.count()
        ctx.release()
        val nb = qd.run(ctx.spark, ctx.base).count()
        ch.decided(qd.name, "rows", n == nb, s"rows $n on staged copy, $nb on base")
    }
    ctx.release()
  }

  /** A read with no registry lane of its own, checked against lane `twin`. */
  def read(name: String, module: String, twin: String)(f: Ctx => DataFrame): Op =
    Op(name, module, { ctx =>
      val df = ctx.tracer.span(s"$module.$name", "ops.build")(f(ctx))
      ctx.tracer.span("noop.save", "action")(noop(df))
      ctx.release()
    }, { (ctx, ch) =>
      val want = Modules.lanes(twin)._2.run(ctx.spark, ctx.dir)
      val (ok, d) = sameRows(f(ctx), want, want.columns.toSeq)
      ch.decided(name, "twin", ok, s"vs $twin: $d")
      ctx.release()
    })

  private def dirBytes(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (!f.exists) (0L, 0L)
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) (0L, 0L) else (f.length, 1L)
    } else f.listFiles.map(c => dirBytes(c.getPath))
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** A write through `graft.io` into `<out>/<name>`. The check re-reads the
    * written data and compares it with the input. Bytes and files written
    * are measured after the op, untimed. */
  def write(name: String, writer: String, inputs: Seq[String])(
      f: (Ctx, String) => Unit)(input: Ctx => DataFrame): Op =
    Op(name, "io.write", { ctx =>
      val out = s"${ctx.out}/$name"
      ctx.tracer.span(writer, "io.write")(f(ctx, out))
      val (b, n) = dirBytes(out)
      ctx.opNotes(s"$name.bytes_written") += b
      ctx.opNotes(s"$name.files_written") += n
      ctx.opNotes(s"$name.bytes_in") +=
        inputs.map(t => dirBytes(s"${ctx.dir}/$t.parquet")._1).sum
    }, { (ctx, ch) =>
      val want = input(ctx)
      val got = ctx.spark.read.parquet(s"${ctx.out}/$name")
      val (ok, d) = sameRows(got, want, want.columns.toSeq)
      ch.decided(name, "reread", ok, d)
    }, checkAfterRun = true, writer = Some(writer))

  /** A parse through `graft.io` of a generated text file, executed into the
    * noop sink. The check compares the parsed rows with the table the file
    * was generated from. */
  def parse(name: String, parser: String)(f: Ctx => DataFrame)(
      cols: Seq[String], expected: Ctx => DataFrame): Op =
    Op(name, "io.parse", { ctx =>
      val df = ctx.tracer.span(parser, "io.parse")(f(ctx))
      ctx.tracer.span("noop.save", "action")(noop(df))
    }, { (ctx, ch) =>
      val got = f(ctx)
      val (ok, d) = sameRows(got, expected(ctx), cols)
      ch.decided(name, "parse", ok, d)
      ctx.opNotes(s"$name.rows") = digest(got, cols)._1.toDouble
    }, parser = Some(parser))

  /** Seeded event micro-batches in event-time order through
    * `StreamingOps.sampleNthStream` into one of `StreamingSinks`, written to
    * `<out>/<name>`. The batches are prepared untimed; the op times query
    * start, every batch from append to commit, and stop. The check compares
    * the sink's output with the batch twin over the same events. */
  def stream(name: String, sink: String, batches: Int): Op = {
    def prep(ctx: Ctx): Unit = {
      val ev = Tables.events(ctx.spark, ctx.dir)
      val rows = ev.orderBy("ts", "event_id").collect()
      val rnd = new scala.util.Random(ctx.seed * 7919 + ctx.pass)
      val cuts = (Seq.fill(batches - 1)(rnd.nextInt(rows.length)) :+ 0 :+ rows.length).sorted
      val parts = cuts.sliding(2).map { case Seq(a, b) => rows.slice(a, b).toSeq }.toSeq
      ctx.prepared(name) = (ev.schema, parts)
    }
    def output(ctx: Ctx): String = s"${ctx.out}/$name"
    Op(name, "StreamingOps", { ctx =>
      val (schema, parts) = ctx.prepared(name).asInstanceOf[(StructType, Seq[Seq[Row]])]
      val spark = ctx.spark
      val ms = MemoryStream[Row](Encoders.row(schema), spark)
      val q = ctx.tracer.span(s"StreamingSinks.$sink", "stream") {
        val df = StreamingOps.sampleNthStream(ms.toDF())
        val chk = s"${ctx.out}/${name}_checkpoint"
        if (sink == "parquetSink") StreamingSinks.parquetSink(df, output(ctx), chk)
        else StreamingSinks.idempotentBatchSink(df, output(ctx), chk)
      }
      try parts.foreach { p =>
        ctx.tracer.span("microbatch", "stream") {
          val t0 = System.nanoTime()
          ms.addData(p)
          q.processAllAvailable()
          ctx.batchLatMs += (System.nanoTime() - t0) / 1e6
        }
        ctx.opNotes(s"$name.events") += p.size
      } finally ctx.tracer.span("StreamingQuery.stop", "stream")(q.stop())
      q.recentProgress.foreach { pr =>
        val d = pr.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val st = pr.stateOperators.headOption
        ctx.streamProgress += Map(
          "stream.trigger_ms" -> ms("triggerExecution"),
          "stream.add_batch_ms" -> ms("addBatch"),
          "stream.wal_commit_ms" -> ms("walCommit"),
          "stream.state_rows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stream.state_mb" -> st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
      }
      val (b, n) = dirBytes(output(ctx))
      ctx.opNotes(s"$name.bytes_written") += b
      ctx.opNotes(s"$name.files_written") += n
      ctx.opNotes(s"$name.bytes_in") += dirBytes(s"${ctx.dir}/events.parquet")._1
    }, { (ctx, ch) =>
      val spark = ctx.spark
      val got = if (sink == "parquetSink") spark.read.parquet(output(ctx))
        else spark.read.parquet(s"${output(ctx)}/batch=*")
      val want = StreamingOps.sampleNthStream(Tables.events(spark, ctx.dir))
      val (ok, d) = sameRows(got, want, want.columns.toSeq)
      ch.decided(name, "stream_twin", ok, d)
    }, checkAfterRun = true, prep = Some(prep))
  }
}

/** A workload: the ops a pass runs, plus `load`, ops run once during set-up
  * (timed into set-up) that write what the ops read, and `etl`, write-path
  * ops run after them in traced runs only, for the write-side per-layer
  * metrics. Without `zipf` a pass runs every op once on a fresh staged
  * copy; with it a pass is a Zipf-mixed batch of draws on the set-up's copy. */
final case class Workload(name: String, ops: Seq[Op], load: Seq[Op] = Nil,
    etl: Seq[Op] = Nil, zipf: Boolean = false)

object Workloads {
  import Ops._

  /** LLM-data curation lanes: native kernels, `Caches` memos and iterative
    * driver loops; each pass reads a fresh staged copy, so memos rebuild. */
  val llmCuration = Workload("llm_curation", Seq(
    "llm_exact_dedup", "llm_simhash", "llm_winnow_native",
    "llm_neardup_jaccard", "llm_filter_cascade_native", "llm_quality",
    "mm_phash", "mm_lz_decode",
  ).map(lane))

  private def t(ctx: Ctx, name: String): DataFrame = name match {
    case "events" => Tables.events(ctx.spark, ctx.dir)
    case other => Tables.load(ctx.spark, ctx.dir, other)
  }

  /** Keyed serving: set-up loads the store through `graft.io` parsers,
    * writers and a streaming sink; the timed passes are a Zipf-skewed stream
    * of small reads, ops in popularity order (rank r drawn with weight 1/r). */
  val keyedLookup = Workload("keyed_lookup", Seq(
    lane("a5_point_lookup"), lane("a5_proj_lookup"), lane("a4_point_read"),
    read("ts_point_read_partitioned", "TimeSeriesOps", "a4_point_read")(ctx =>
      TimeSeriesOps.pointReadPartitioned(
        ctx.spark.read.parquet(s"${ctx.dir}/write_ts_layout"))),
    lane("a5_keyset_page"), lane("rds_q1"), lane("geo_knn"),
    lane("llm_cosine_topk"), lane("a7_point_nested"), lane("a5_top10_leaderboard"),
  ), load = Seq(
    write("write_ts_layout", "TimeSeriesOps.writeLayout", Seq("events"))(
      (ctx, out) => TimeSeriesOps.writeLayout(ctx.spark, ctx.dir, out))(t(_, "events")),
  ), etl = Seq(
    parse("parse_customer_tbl", "RefFormats.customerTbl")(ctx =>
      RefFormats.customerTbl(ctx.spark, s"${ctx.inputs}/customer.tbl"))(
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      t(_, "customer")),
    parse("parse_users_kv", "RefFormats.usersKv")(ctx =>
      RefFormats.usersKv(ctx.spark, s"${ctx.inputs}/users.txt"))(
      Seq("user_id", "first_name", "country", "latitude"), ctx =>
        t(ctx, "customer").select(col("c_custkey").as("user_id"),
          col("c_name").as("first_name"), col("c_mktsegment").as("country"),
          col("c_acctbal").as("latitude"))),
    write("write_parquet", "Sinks.writeParquet", Seq("orders"))(
      (ctx, out) => Sinks.writeParquet(t(ctx, "orders"), out))(t(_, "orders")),
    write("write_zordered", "ZOrder.writeZOrdered", Seq("events"))(
      (ctx, out) => ZOrder.writeZOrdered(t(ctx, "events"), out, col("user_id"),
        dayofyear(col("ts")), 10, 8))(t(_, "events")),
    write("compact", "Sinks.compact", Seq("lineitem"))({ (ctx, out) =>
      val files = Sinks.compact(ctx.spark, s"${ctx.dir}/lineitem.parquet", out, 256L * 1024)
      ctx.opNotes("compact.files_out") += files
      ctx.opNotes("compact.files_in") +=
        new java.io.File(s"${ctx.dir}/lineitem.parquet").list().count(_.endsWith(".parquet"))
    })(t(_, "lineitem")),
    stream("stream_parquet_sink", "parquetSink", 3),
  ), zipf = true)

  val all: Seq[Workload] = Seq(llmCuration, keyedLookup)

  /** Every SQL kernel registered by `graft.functions`, as (name, table,
    * argument built from that staged table, call); the traced run's kernel
    * probe times the call against the bare argument. */
  val kernels: Seq[(String, String, String, String)] = Seq(
    ("md5hash60", "documents", "text", "md5hash60(text)"),
    ("winnow_fps", "documents", "text", "winnow_fps(text)"),
    ("winnow_md5_fps", "documents", "text", "winnow_md5_fps(text)"),
    ("simhash32", "documents", "cast(text AS binary)", "simhash32(cast(text AS binary))"),
    ("cdc_chunks", "documents", "text", "cdc_chunks(text)"),
    ("cascade_sigs", "documents", "split(text, ' ')", "cascade_sigs(split(text, ' '))"),
    ("lz_stream_decode", "documents", "text", "lz_stream_decode(text)"),
    ("rle_stream_decode", "documents", "text", "rle_stream_decode(text)"),
    ("huff_stream_decode", "documents", "text", "huff_stream_decode(text)"),
    ("block_means64", "documents", "rpad(text, 256, 'x')",
      "block_means64(rpad(text, 256, 'x'), 16L, 16L)"),
    ("cosine_sim", "embeddings", "cast(embedding AS array<double>)",
      "cosine_sim(cast(embedding AS array<double>), reverse(cast(embedding AS array<double>)))"),
    ("dct_phash", "embeddings", "transform(embedding, x -> cast(round((x + 1) * 127) AS bigint))",
      "dct_phash(transform(embedding, x -> cast(round((x + 1) * 127) AS bigint)))"),
    ("bootstrap_w60", "lineitem", "l_orderkey", "bootstrap_w60(l_orderkey)"),
  )
}
