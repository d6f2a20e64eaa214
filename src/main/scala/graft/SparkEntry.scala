package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.extract.Extractor
import graft.pipe.Job
import graft.schema.Turn
import graft.synth.SynthTranscripts

/** Driver contract — see /root/repo/SURVEY.md section 7.
  *
  * Query naming: `x_*` exercise the extraction pipeline (the north rule);
  * `q_*` exercise the relational/span-algebra operator surface mapped in
  * SURVEY.md section 2; `t_*` are training-data ops (dedup / similarity /
  * text analysis).
  *
  * Every oracle-checked extraction query builds its payload
  * DETERMINISTICALLY from the `documents` table in Spark, extracts, and
  * must reproduce DuckDB's independently-computed expected text — an
  * end-to-end equality gate through tokenizer, DOM, boilerplate, XY-cut
  * and tool extractors.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic HTML framing: nav + boilerplate around the doc text.
    * Only docs with >16 words are used (the published NumWordsRules tree
    * needs that for isolated-block content; see Boilerplate.isContent).
    */
  private val htmlFramePrefix =
    "<!DOCTYPE html><html><head><title>Doc</title>" +
      "<script>var x = 1 < 2; //</script><style>p{}</style></head>" +
      "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/b\">More</a></nav><p>"
  private val htmlFrameSuffix =
    "</p><footer><a href=\"/tos\">terms</a> <a href=\"/pp\">privacy</a>" +
      "</footer></body></html>"

  def htmlFrame(text: String): String =
    htmlFramePrefix + text + htmlFrameSuffix

  /** Deterministic markdown framing (MD-1 oracle fixture): heading and
    * list markers to strip, an emphasis pair to exclude, and a code
    * fence whose content (asterisks included) must survive verbatim.
    * Requires >= 3 words.
    */
  def mdFrame(text: String): String = {
    val ws = text.split(' ')
    "# Heading " + ws(0) + "\n\n" + text + "\n\n" +
      "- item " + ws(1) + "\n- *" + ws(2) + "*\n\n" +
      "```\ncode *" + ws(0) + "* stays\n```\n"
  }

  /** Deterministic PDF-runs framing: words laid out 6 per line, emission
    * order reversed (so XY-cut must restore reading order).
    */
  def pdfFrame(text: String): String = {
    val ws = text.split(' ')
    var x = 0.0
    var prevLine = -1
    val runs = ws.zipWithIndex.map { case (w, i) =>
      val line = i / 6
      if (line != prevLine) { x = 0.0; prevLine = line }
      val x0 = x
      val x1 = x0 + w.length * 6.0
      x = x1 + 3.0 // tight word packing: gaps << column gutters
      val y0 = line * 20.0
      s"""{"page":0,"x0":$x0,"y0":$y0,"x1":$x1,""" +
        s""""y1":${y0 + 10.0},"text":"$w"}"""
    }
    runs.reverse.mkString("[", ",", "]")
  }

  def toolFrame(text: String): String =
    "$ cat doc.txt\n" + text + "\nexit_code: 0"

  /** Deterministic transcript turns derived from the documents table so
    * the DuckDB oracle can mirror the full pipeline (dedupe included)
    * end to end: doc_id % 4 picks the payload kind (plain / html / tool
    * / pdf); docs with <= 16 words stay plain on the html branch (the
    * NumWordsRules tree needs that much isolated-block content); every
    * 10th doc gets a STALE duplicate — same (conv_id, turn_idx), earlier
    * ts, different text — that the pipeline's dedupe must drop.
    */
  def docTurns(s: SparkSession, dir: String)
      : Dataset[graft.schema.Turn] = {
    import s.implicits._
    import graft.schema.Turn
    docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, t) =>
        val nWords = t.split(' ').length
        val convId = "c" + (id % 100)
        val turnIdx = (id / 100).toInt
        val ts = new java.sql.Timestamp(86400000L + id * 1000L)
        val turn = (id % 4) match {
          case 0 => Turn(convId, turnIdx, "user", t, "", ts)
          case 1 =>
            if (nWords > 16)
              Turn(convId, turnIdx, "assistant", htmlFrame(t), "", ts)
            else Turn(convId, turnIdx, "user", t, "", ts)
          case 2 => Turn(convId, turnIdx, "tool", toolFrame(t), "bash", ts)
          case _ => Turn(convId, turnIdx, "user", pdfFrame(t), "", ts)
        }
        if (id % 10 == 0)
          Seq(turn, Turn(convId, turnIdx, "user", "stale duplicate " + id,
            "", new java.sql.Timestamp(ts.getTime - 5000L)))
        else Seq(turn)
      }
  }

  /** DuckDB fragment: expected extractor per doc (mirrors docTurns). */
  private val docKindSql =
    "CASE WHEN doc_id % 4 = 1 AND len(string_split(text, ' ')) > 16 " +
      "THEN 'html' WHEN doc_id % 4 = 2 THEN 'tool' " +
      "WHEN doc_id % 4 = 3 THEN 'pdf' ELSE 'plain' END"

  /** DuckDB fragment: reading-order text with the pdf layout's line
    * structure restored (6 words per line, '\n'-joined) — the expected
    * output of the XY-cut extractor on pdfFrame payloads.
    */
  private val pdfTextSql =
    "array_to_string(list_transform(generate_series(1, " +
      "((len(string_split(text, ' ')) + 5) // 6)::INT), i -> " +
      "array_to_string(string_split(text, ' ')[(i-1)*6+1 : i*6], ' ')), " +
      "chr(10))"

  /** DuckDB fragment: expected extracted text per doc (docTurns kinds). */
  private val docExtractedSql =
    s"CASE WHEN doc_id % 4 = 3 THEN $pdfTextSql ELSE text END"

  /** Flagship: full extraction pipeline over synthetic transcripts. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = SynthTranscripts.turns(spark, numConvs = 64,
      megaEvery = 50, megaTurns = 500)
    val (out, _) = Job.run(spark, turns, "entry")
    out.toDF()
  }

  // ---- queries ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== extraction (north rule), oracle-checked end-to-end =====
    "x_plain_docs" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          (id, Extractor.extract("user", "", t).extracted_text)
        }.toDF("doc_id", "extracted")
    },

    "x_html_docs" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .filter(size(split($"text", " ")) > 16)
        .select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          val ex = Extractor.extract("assistant", "", htmlFrame(t))
          (id, ex.extractor, ex.extracted_text)
        }.toDF("doc_id", "extractor", "extracted")
    },

    // MD-1 end-to-end: doc text framed as markdown (heading + list
    // markers, an emphasis pair, a verbatim code fence); the oracle
    // recomputes the expected extraction from the RAW doc text, so
    // routing, marker stripping, fragment spans and fence handling are
    // all independently checked
    "x_md_docs" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .filter(size(filter(split($"text", " "), w => w =!= "")) >= 3)
        .select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          val ex = Extractor.extract("user", "", mdFrame(t))
          (id, ex.extractor, ex.extracted_text)
        }.toDF("doc_id", "extractor", "extracted")
    },

    "x_pdf_docs" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          val ex = Extractor.extract("user", "", pdfFrame(t))
          // full fidelity: the oracle reconstructs the 6-word line
          // structure, so '\n' placement is independently checked
          (id, ex.extractor, ex.extracted_text)
        }.toDF("doc_id", "extractor", "extracted")
    },

    // COLLATE-1 second opinion: html primary accepted for >16-word
    // docs; for shorter docs the boilerplate classifier drops all
    // content, so the collate falls back to plain extraction of the
    // raw payload — both bands oracle-checked
    "x_collate" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          val ex = Extractor.extractCollated("assistant", "",
            htmlFrame(t))
          (id, ex.extractor, ex.extracted_text)
        }.toDF("doc_id", "extractor", "extracted")
    },

    "x_tool_docs" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .map { case (id, t) =>
          val ex = Extractor.extract("tool", "bash", toolFrame(t))
          (id, ex.extractor, ex.extracted_text)
        }.toDF("doc_id", "extractor", "extracted")
    },

    // full pipeline (ONE shuffle: dedupe + order + extract) over turns
    // derived from the documents table — oracle-checked end to end
    // including the dedupe of planted stale duplicates; pdf rows keep
    // their line structure and the oracle reconstructs it
    "x_transcripts" -> { (s, dir) =>
      import s.implicits._
      val (out, _) = Job.run(s, docTurns(s, dir), "verify")
      out.toDF().select($"conv_id", $"turn_idx", $"extractor",
        $"extracted_text".as("extracted"))
    },

    // the SAME extraction semantics through Structured Streaming:
    // stage the doc-derived turns as input files (planted duplicates
    // excluded — cross-batch winner order is engine-specific), stream
    // them through the stateless extract path into an exactly-once
    // file sink (AvailableNow trigger), read the sink back; oracle =
    // the same expected-extraction SQL as x_transcripts
    "x_streaming" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("plain")
      // 8 staged files: the default maxFilesPerTrigger=8 then runs the
      // stateless extraction micro-batch 8-way parallel (one staged
      // file would serialize it on one core)
      docTurns(s, dir)
        .filter(!$"text".startsWith("stale duplicate"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val stream = graft.streaming.StreamingJob.readTurnStream(s,
        s"$tmp/in")
      val out = graft.streaming.StreamingJob.extractStream(stream)
      graft.streaming.StreamingJob
        .writer(out, s"$tmp/out", s"$tmp/ckpt")
        .start().awaitTermination()
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out").select($"conv_id", $"turn_idx",
        $"extractor", $"extracted_text".as("extracted"))
    },

    // streaming WITH duplicates through the stateful cross-batch dedupe
    // (dropDuplicatesWithinWatermark): every turn is staged TWICE — the
    // exact copies land in separate input files, so maxFilesPerTrigger=2
    // spreads original and duplicate across micro-batches — and the
    // deduped extraction must reproduce the same batch oracle
    // (x_transcripts). Correctness argument, scale-independent:
    //  - the watermark delay is sized to the staged corpus's ACTUAL
    //    disorder bound (its full ts span): replaying a corpus from
    //    files has arbitrary event-time disorder across micro-batches,
    //    so any smaller delay can late-drop a key's ONLY copy before it
    //    is ever emitted (a real stream sets the delay to its real
    //    max lateness; 1 hour is the production default, not a replay
    //    config). Files are additionally staged in event-time order
    //    (repartitionByRange on ts), the realistic arrival shape;
    //  - a key can never be emitted twice: a duplicate survives the
    //    late-drop (ts >= watermark) only while the original's dedupe
    //    state is alive (expiry iff watermark > ts + delay implies
    //    ts < watermark, i.e. late);
    //  - exact duplicates make the winner deterministic regardless of
    //    which copy wins.
    "x_streaming_dedupe" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("dedupe")
      // cache: repartitionByRange SAMPLES its child by re-executing it
      // (CLAUDE.md), and the doubled staging + span probe would
      // otherwise run the docTurns framing flatMap ~5 times
      val base = docTurns(s, dir)
        .filter(!$"text".startsWith("stale duplicate"))
        .persist()
      base.repartitionByRange(4, $"ts")
        .write.mode("overwrite").parquet(s"$tmp/in")
      // the duplicate copy is byte-identical staged data — file copies
      // are equivalent to re-running the ranged write (same rows in
      // separate files, the cross-batch-duplicate challenge the gate
      // needs) without a second sample+shuffle+write job chain
      new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(f.getParentFile,
              "dup-" + f.getName).toPath)
        }
      // span from the staged files (same rows), then release the cache
      val span = s.read.parquet(s"$tmp/in").agg(
        (max(unix_timestamp($"ts")) - min(unix_timestamp($"ts")))
          .as("span")).collect()(0).getLong(0)
      base.unpersist()
      withAdaptiveStreamPartitions(s, s"$tmp/in") {
        val stream = graft.streaming.StreamingJob.readTurnStream(s,
          s"$tmp/in", maxFilesPerTrigger = 2)
        val deduped = graft.streaming.StreamingJob.withDedupe(stream,
          watermarkDelay = s"${span + 60} seconds")
        val out = graft.streaming.StreamingJob.extractStream(deduped)
        graft.streaming.StreamingJob
          .writer(out, s"$tmp/out", s"$tmp/ckpt")
          .start().awaitTermination()
      }
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out").select($"conv_id", $"turn_idx",
        $"extractor", $"extracted_text".as("extracted"))
    },

    // the watermarked windowed aggregation (the monitoring rollup a
    // production stream feeds): doc-derived turns streamed through
    // windowedStats with 1-minute event-time windows; the rollup must
    // match a batch GROUP BY over epoch-floored windows in DuckDB.
    // Append-mode mechanics (the part worth gating): a window only
    // emits once the watermark passes its end, and with AvailableNow
    // the final watermark is max(event time) - delay — so a SENTINEL
    // turn one hour past the corpus pushes the watermark beyond every
    // real window (its own window never finalizes and is filtered
    // anyway). Everything is staged as one micro-batch
    // (maxFilesPerTrigger high) so file-replay disorder cannot
    // late-drop rows; the no-data batch after it advances the
    // watermark and flushes the finalized windows.
    "x_streaming_stats" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("wstats")
      docTurns(s, dir)
        .filter(!$"text".startsWith("stale duplicate"))
        .write.mode("overwrite").parquet(s"$tmp/in")
      val maxTs = s.read.parquet(s"$tmp/in")
        .agg(max($"ts")).collect()(0).getTimestamp(0)
      s.createDataset(Seq(Turn("__sentinel__", 0, "user", "x", "",
        new java.sql.Timestamp(maxTs.getTime + 3600L * 1000))))
        .write.mode("append").parquet(s"$tmp/in")
      withAdaptiveStreamPartitions(s, s"$tmp/in") {
        val stream = graft.streaming.StreamingJob.readTurnStream(s,
          s"$tmp/in", maxFilesPerTrigger = 100000)
        val stats = graft.streaming.StreamingJob.windowedStats(stream,
          windowLen = "1 minute", watermarkDelay = "10 minutes")
        stats.selectExpr("conv_id", "window.start AS w_ts", "n_turns",
          "n_errors")
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out")
        .filter($"conv_id" =!= "__sentinel__")
        .select($"conv_id", unix_timestamp($"w_ts").as("w_start"),
          $"n_turns", $"n_errors")
    },

    // the full pipeline (dedupe included) over a LINE-DELIMITED JSON
    // source instead of parquet: turns staged as JSONL, read back with
    // the explicit-schema source (no inference pass — see
    // sources/TranscriptSource scale notes), extracted, and must land
    // the identical oracle as x_transcripts — proving timestamp/text
    // round-tripping and the non-parquet ingestion path end to end
    "x_jsonl_source" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("jsonl")
      docTurns(s, dir).write.mode("overwrite").json(s"$tmp/in")
      val turns = graft.sources.TranscriptSource.jsonl(s, s"$tmp/in")
      val (out, _) = Job.run(s, turns, "jsonl-src")
      out.toDF().select($"conv_id", $"turn_idx", $"extractor",
        $"extracted_text".as("extracted"))
    },

    // lenient bulk-load: the staged JSONL is salted with 9
    // deterministic garbage lines (unparseable JSON, missing conv_id,
    // null text) — the quarantine reader must reject EXACTLY those 9
    // (the require is part of the gate: a quarantine bug errors the
    // query) while every valid turn flows through the full pipeline
    // byte-exactly (same oracle as x_transcripts). FAILFAST would
    // have killed this load; PERMISSIVE would have poisoned it with
    // nulls.
    "x_jsonl_quarantine" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("jsonlq")
      docTurns(s, dir).write.mode("overwrite").json(s"$tmp/in")
      val garbage = (0 until 9).map {
        case i if i % 3 == 0 => s"""{corrupt line $i"""
        case 4 => // parseable but missing turn_idx: a NON-NULLABLE Int
          // — without quarantine this row would pass parsing and kill
          // the whole load at Dataset deserialization
          """{"conv_id": "g4", "role": "user", "text": "no idx", """ +
            """"tool": "", "ts": "2024-01-01T00:00:04.000Z"}"""
        case i if i % 3 == 1 =>
          s"""{"turn_idx": $i, "role": "user", "text": "no conv", """ +
            s""""tool": "", "ts": "2024-01-01T00:00:0$i.000Z"}"""
        case i =>
          s"""{"conv_id": "g$i", "turn_idx": $i, "role": "user", """ +
            s""""text": null, "tool": "", """ +
            s""""ts": "2024-01-01T00:00:0$i.000Z"}"""
      }
      s.createDataset(garbage).coalesce(1).write.mode("append")
        .text(s"$tmp/in")
      val (good, bad) =
        graft.sources.TranscriptSource.jsonlQuarantine(s, s"$tmp/in")
      val nBad = bad.count()
      require(nBad == 9, s"quarantine expected 9 lines, got $nBad")
      val (out, _) = Job.run(s, good, "jsonl-q")
      out.toDF().select($"conv_id", $"turn_idx", $"extractor",
        $"extracted_text".as("extracted"))
    },

    // custom-state streaming (flatMapGroupsWithState): per-user
    // sessionization of the events table with an explicit state
    // machine + event-time timeouts; the streaming output must equal
    // the batch q_sessionize oracle exactly. Same staging mechanics as
    // x_streaming_stats: one micro-batch (no cross-batch disorder), a
    // sentinel row pushes the final watermark so every group's timeout
    // fires and emits its summary in the no-data batch.
    "x_streaming_sessions" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingJob
      val tmp = scratchDir("sess")
      // the source table stores TIMESTAMP_NTZ; cast to TimestampType
      // (session UTC) up front so the staged files, the sentinel row
      // and the stream schema all agree on one timestamp type
      tbl(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$tmp/in")
      val maxSec = s.read.parquet(s"$tmp/in")
        .agg(max(unix_timestamp($"ts"))).collect()(0).getLong(0)
      s.createDataset(Seq(StreamingJob.EventRow(-1L,
        new java.sql.Timestamp((maxSec + 3600L) * 1000),
        -1L, "sentinel", 0.0, "")))
        .toDF().write.mode("append").parquet(s"$tmp/in")
      withAdaptiveStreamPartitions(s, s"$tmp/in") {
        val stream = s.readStream
          .schema(s.createDataset(Seq.empty[StreamingJob.EventRow]).schema)
          .option("maxFilesPerTrigger", 100000)
          .parquet(s"$tmp/in")
          .as[StreamingJob.EventRow]
        StreamingJob.sessionize(stream)
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out")
        .filter($"user_id" =!= -1L)
        .select($"user_id", $"n_sessions", $"n_events")
    },

    // stream-stream interval join: purchases and views read as TWO
    // streams from the staged event log, watermarked on both sides,
    // joined on user within a 6-hour attribution window — must equal
    // the batch interval join exactly. Single-batch staging (see
    // x_streaming_stats); inner-join matches emit on arrival, so no
    // sentinel is needed.
    "x_streaming_join" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingJob
      val tmp = scratchDir("sjoin")
      tbl(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$tmp/in")
      withAdaptiveStreamPartitions(s, s"$tmp/in") {
        def rd(kind: String) = s.readStream
          .schema(s.createDataset(Seq.empty[StreamingJob.EventRow]).schema)
          .option("maxFilesPerTrigger", 100000)
          .parquet(s"$tmp/in")
          .as[StreamingJob.EventRow]
          .filter($"event_type" === kind)
        StreamingJob.intervalJoin(rd("purchase"), rd("view"))
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out")
        .select($"purchase_id", $"view_id", $"user_id")
    },

    // the full pipeline over the CSV source (multiLine + escape +
    // null/empty sentinels): turns staged via writeCsv, read back with
    // the paired explicit-schema reader, extracted, and must land the
    // identical oracle as x_transcripts — the writer/reader pair's
    // quoting, embedded-newline and null conventions proven round-trip
    // under the end-to-end gate (not just unit fixtures)
    "x_csv_source" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("csv")
      graft.sources.TranscriptSource.writeCsv(docTurns(s, dir),
        s"$tmp/in")
      val turns = graft.sources.TranscriptSource.csv(s, s"$tmp/in")
      val (out, _) = Job.run(s, turns, "csv-src")
      out.toDF().select($"conv_id", $"turn_idx", $"extractor",
        $"extracted_text".as("extracted"))
    },

    // columnar round trip beyond parquet: the same turn corpus staged
    // as ORC (Spark's other first-class columnar format, predicate
    // pushdown and all), read back typed, extracted — output must
    // equal the parquet-path oracle byte for byte, proving the engine
    // is source-format-agnostic at the contract surface
    "x_orc_source" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("orc")
      docTurns(s, dir).write.mode("overwrite").orc(s"$tmp/in")
      val turns = s.read.orc(s"$tmp/in").as[graft.schema.Turn]
      val (out, _) = Job.run(s, turns, "orc-src")
      out.toDF().select($"conv_id", $"turn_idx", $"extractor",
        $"extracted_text".as("extracted"))
    },

    // partitioned parquet sink + partition-pruned read-back: documents
    // land partitioned by lang (the layout a 100 TB corpus store uses
    // so per-language jobs touch only their directories), then the
    // read-back filters to two langs — the filter must resolve at the
    // PARTITION level (directory pruning, no data read for other
    // langs; PlanSpec asserts the pruned read). The rollup aggregates
    // a long column so the compare is exact under parallel summation.
    "x_partitioned_sink" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("psink")
      docs(s, dir).write.mode("overwrite").partitionBy("lang")
        .parquet(tmp)
      s.read.parquet(tmp)
        .filter($"lang".isin("en", "zh"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
    },

    // multimodal plumbing end to end: binary payloads derived from the
    // documents table (ASCII bytes == chars, so the oracle recomputes
    // the deterministic stub codec in HUGEINT SQL), batched
    // per-partition feature extraction, typed output. Uses the
    // stub-only pass: payloads here are arbitrary text bytes, so
    // container DETECTION must not apply (a doc that happens to start
    // with "GIF89a" would otherwise parse as a container and diverge
    // from the stub-mirroring oracle); detection is covered by
    // t_media_headers
    "t_multimodal" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id", $"text")
        .as[(Long, String)]
        .map { case (id, t) =>
          val kind = (id % 3) match {
            case 0 => "image"
            case 1 => "audio"
            case _ => "video"
          }
          graft.ops.Multimodal.MediaRow(id, kind,
            t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.ops.Multimodal.stubFeatures(s, media).toDF()
        .select($"media_id", $"kind", $"n_bytes", $"width", $"height",
          $"n_frames", $"content_hash")
    },

    // MEDIA-1 real container-header decode: payloads are minimal but
    // REAL png/gif/bmp/jpeg/wav files synthesized deterministically per
    // doc_id; Spark parses format/width/height/frames FROM THE BYTES
    // (fixed-offset reads per the published container specs) while the
    // oracle recomputes them from the synthesis formulas — a parser or
    // synthesizer bug on either side breaks the match. Uses the
    // HEADER-ONLY entry point: a metadata scan must never attempt
    // content decode (at 100 TB that would be a DEFLATE attempt per
    // PNG bought for discarded columns)
    "t_media_headers" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id").as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContainer(id))
        }
      graft.ops.Multimodal.extractHeaders(s, media).toDF()
        .select($"media_id", $"format", $"n_bytes", $"width", $"height",
          $"n_frames")
    },

    // MEDIA-2 real content decode: even ids are 24-bit BMPs with
    // formula-synthesized pixels, odd ids 16-bit PCM WAVs with
    // formula-synthesized samples; Spark decodes pixels/samples FROM
    // THE BYTES (bottom-up BGR rows + padding, LE sample words) into
    // integer 8-band embeddings + FNV-1a content hashes, while the
    // oracle recomputes both from the synthesis formulas — a decoder
    // or writer bug on either side breaks the match
    // content-based media dedup over MEDIA-2: every 3rd doc gets a
    // BYTE-DISTINCT twin whose decoded content is identical (reserved
    // header / sample-rate fields differ — fields outside the content
    // hash). Raw-byte dedup (md5 of the file) cannot find these twins;
    // dedup over the DECODED content hash must — the real-decode
    // milestone feeding the media-similarity path
    // the STREAMING face of the multimodal arm: media containers
    // arrive continuously as files; header metadata is extracted
    // statelessly (extractHeaders — a metadata stream must never pay
    // content-decode cost) into an exactly-once checkpointed parquet
    // sink, and must equal the batch header oracle row for row
    "x_streaming_media" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("smedia")
      docs(s, dir).select($"doc_id").as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContainer(id))
        }.toDF().write.mode("overwrite").parquet(s"$tmp/in")
      val stream = graft.streaming.StreamingJob.readMediaStream(s,
        s"$tmp/in")
      val out = graft.ops.Multimodal.extractHeaders(s, stream)
      graft.streaming.StreamingJob
        .sink(out, s"$tmp/out", s"$tmp/ckpt")
        .start().awaitTermination()
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out")
        .select($"media_id", $"format", $"n_bytes", $"width",
          $"height", $"n_frames")
    },

    // STREAMING bloom decontamination: the blob is built OFFLINE from
    // the bench set (the deployment shape: blocklist compiled once,
    // live corpus filtered in flight), and because the BLOOM-1 probe
    // is a stateless per-row expression, the SAME batch operator
    // (Retrieval.decontaminateBloom) runs unchanged on the stream —
    // no aggregation state, no watermark, exactly-once parquet sink.
    // Output (and oracle) identical to batch t_bloom_decontaminate.
    "x_streaming_decontam" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("sdecon")
      val d = docs(s, dir)
      // 4 staged files = one full maxFilesPerTrigger micro-batch whose
      // stateless gram+bloom CPU runs 4-way parallel (a 1-file staging
      // serialized the whole batch on one core)
      d.select($"doc_id", $"text").repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val bench = d.filter($"doc_id" % 97 === 0)
        .select(array_join(
          slice(filter(split($"text", " "), w => w =!= ""), 11, 30),
          " ").as("text"))
      val stream = s.readStream
        .schema(d.select($"doc_id", $"text").schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(s"$tmp/in")
      val out = graft.ops.Retrieval.decontaminateBloom(s, stream, bench)
      graft.streaming.StreamingJob
        .sink(out, s"$tmp/out", s"$tmp/ckpt")
        .start().awaitTermination()
      dropStreamStaging(tmp)
      s.read.parquet(s"$tmp/out").select($"doc_id", $"n_shared")
    },

    "t_media_dedup" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id").as[Long]
        .flatMap { id =>
          val base = graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContentContainer(id))
          if (id % 3 == 0)
            Seq(base, graft.ops.Multimodal.MediaRow(id + 5000000L,
              "binary", graft.ops.Multimodal.synthContentTwin(id)))
          else Seq(base)
        }
      val w = Window.partitionBy($"content_hash")
      graft.ops.Multimodal.extractFeatures(s, media).toDF()
        .select($"media_id", $"content_hash")
        .withColumn("is_dup", count(lit(1)).over(w) > 1)
    },

    // the MEDIA-curation flagship: a content-addressed store ledger
    // over a MIXED corpus — BMP/WAV bases, byte-distinct twins, and
    // PNG/GIF TRANSCODES of the same pixels — decode everything
    // (MEDIA-2/4/5), group by decoded content hash, keep the canonical
    // copy and count the redundancy. Raw-byte dedup sees zero
    // duplicates here (every payload is byte-distinct); content decode
    // must collapse twins AND cross-format transcodes onto one keeper.
    "t_media_cleanse" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .flatMap { id =>
          val rows = scala.collection.mutable.ArrayBuffer(
            graft.ops.Multimodal.MediaRow(id, "binary",
              graft.ops.Multimodal.synthContentContainer(id)))
          if (id % 3 == 0)
            rows += graft.ops.Multimodal.MediaRow(id + 5000000L,
              "binary", graft.ops.Multimodal.synthContentTwin(id))
          if (id % 2 == 0)
            rows += graft.ops.Multimodal.MediaRow(id + 7000000L,
              "binary", graft.ops.Multimodal.synthPngContent(id))
          if (id % 6 == 0)
            rows += graft.ops.Multimodal.MediaRow(id + 8000000L,
              "binary", graft.ops.Multimodal.synthGifContent(id))
          rows
        }
      graft.ops.Multimodal.extractFeatures(s, media).toDF()
        .select($"media_id", $"content_hash")
        .groupBy($"content_hash")
        .agg(min($"media_id").as("keeper_id"),
          count(lit(1)).as("n_copies"))
    },

    // media-similarity retrieval END TO END: real container bytes ->
    // MEDIA-2 content decode -> 8-band integer embeddings -> cosine
    // top-1. Each byte-distinct twin (reserved header fields differ,
    // decoded content identical) must retrieve exactly its partner:
    // the oracle is the planted construction itself, so a decoder,
    // embedding or retrieval bug anywhere in the chain breaks the
    // match. This is the media arm of the ANN family — raw-byte
    // hashing cannot pair these files; content embeddings must.
    "t_media_ann" -> { (s, dir) =>
      val (corpus, queries) = mediaAnnCorpus(s, dir)
      graft.ops.Ann.bruteForceTop1(s, corpus, queries)
    },

    // the SCALE PATH of the same retrieval: multi-table hyperplane LSH
    // over the decoded 8-band embeddings instead of brute force —
    // content-identical twins share every sign bucket (exactly equal
    // vectors), so the index must recover every partner under the
    // same planted-construction oracle while scoring only bucket
    // candidates
    "t_media_ann_lsh" -> { (s, dir) =>
      import s.implicits._
      val (corpus, queries) = mediaAnnCorpus(s, dir)
      graft.ops.Ann.lshTopK(s, corpus, queries, k = 1, dim = 8)
        .select($"qid", $"id")
    },

    // MEDIA-4: real COMPRESSED-format decode. Payloads are full PNGs
    // (8-bit truecolor, per-row-varying scanline filters, deflated
    // IDAT, real CRC32s) synthesized from the same pixel formulas as
    // the BMP corpus; Spark must walk chunks, verify CRCs, INFLATE,
    // invert all five filters and land the identical content hash +
    // band embedding the oracle recomputes from the formulas — the
    // "compressed formats stay stubs" caveat closed for PNG with
    // nothing but the JDK's java.util.zip.
    "t_media_png" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthPngContent(id))
        }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val embCols = (0 until 8).map(d =>
        element_at($"embedding", d + 1).cast("long").as(s"e$d"))
      feats.select(
        ($"media_id" +: $"format" +: $"content_hash" +: embCols): _*)
    },

    // cross-FORMAT content identity: the same pixels stored as an
    // uncompressed bottom-up BGR BMP, as a DEFLATE-compressed filtered
    // PNG, and as an LZW-compressed palette GIF — three entirely
    // different byte streams, containers and compressions — must land
    // the IDENTICAL content hash, and joining on that hash must
    // recover exactly the planted format triples. This is what a
    // content-addressed media store needs: identity that survives
    // transcoding.
    "t_media_cross" -> { (s, dir) =>
      import s.implicits._
      val ids = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .filter(_ % 2 == 0)
      val media = ids.flatMap { id =>
        Seq(
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContentContainer(id)), // BMP
          graft.ops.Multimodal.MediaRow(id + 7000000L, "binary",
            graft.ops.Multimodal.synthPngContent(id)), // PNG, same px
          graft.ops.Multimodal.MediaRow(id + 8000000L, "binary",
            graft.ops.Multimodal.synthGifContent(id))) // GIF, same px
      }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val bmp = feats.filter($"format" === "bmp")
        .select($"media_id".as("bmp_id"), $"content_hash")
      val png = feats.filter($"format" === "png")
        .select($"media_id".as("png_id"), $"content_hash")
      val gif = feats.filter($"format" === "gif")
        .select($"media_id".as("gif_id"), $"content_hash")
      bmp.join(png, "content_hash").join(gif, "content_hash")
        .select($"bmp_id", $"png_id", $"gif_id")
    },

    // MEDIA-5: real LZW GIF decode. Payloads are full GIF89a files
    // (scan-order palette, spec LZW with growing code widths) of the
    // same pixel formulas; Spark must walk blocks, LZW-decode,
    // palette-map and land the identical content hash + band
    // embedding the oracle recomputes from the formulas — closed with
    // nothing but the spec (JPEG followed in MEDIA-6, t_media_jpeg).
    "t_media_gif" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthGifContent(id))
        }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val embCols = (0 until 8).map(d =>
        element_at($"embedding", d + 1).cast("long").as(s"e$d"))
      feats.select(
        ($"media_id" +: $"format" +: $"content_hash" +: embCols): _*)
    },

    // MEDIA-6: real baseline JPEG decode. Payloads are full baseline
    // files (JFIF/DQT/SOF0/DHT/SOS + Huffman entropy data, every 3rd
    // with restart markers); Spark must walk markers, build canonical
    // Huffman tables, entropy-decode, dequantize and IDCT to land the
    // hash + bands the oracle recomputes from the flat-tile formulas —
    // exact because quant-8 DC-only blocks round-trip losslessly
    // (see ops.Jpeg). The last still format, closed with the spec.
    "t_media_jpeg" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Jpeg.synthJpegContent(id))
        }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val embCols = (0 until 8).map(d =>
        element_at($"embedding", d + 1).cast("long").as(s"e$d"))
      feats.select(
        ($"media_id" +: $"format" +: $"content_hash" +: embCols): _*)
    },

    // MEDIA-7: progressive JPEG. The same flat-tile pixels as SOF2
    // multi-scan files (DC successive approximation, EOBn AC runs,
    // refinement scans on odd ids, restarts on every 3rd) — Spark must
    // accumulate coefficients across scans and IDCT at EOI to land the
    // identical hash + bands; the oracle is the SAME formula SQL as
    // t_media_jpeg because a conformant progressive coding carries the
    // same coefficients, scan script notwithstanding.
    "t_media_jpeg_prog" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Jpeg.synthJpegProgContent(id))
        }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val embCols = (0 until 8).map(d =>
        element_at($"embedding", d + 1).cast("long").as(s"e$d"))
      feats.select(
        ($"media_id" +: $"format" +: $"content_hash" +: embCols): _*)
    },

    // cross-format identity, fourth container: the flat pixels as an
    // uncompressed BMP vs as a DCT-compressed JPEG — joining on the
    // decoded content hash must recover exactly the planted pairs
    "t_media_jpeg_cross" -> { (s, dir) =>
      import s.implicits._
      val ids = docs(s, dir).select($"doc_id")
        .repartition(s.sparkContext.defaultParallelism).as[Long]
      val media = ids.flatMap { id =>
        Seq(
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Jpeg.synthJpegTwinBmp(id)),
          graft.ops.Multimodal.MediaRow(id + 9000000L, "binary",
            graft.ops.Jpeg.synthJpegContent(id)))
      }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val bmp = feats.filter($"format" === "bmp")
        .select($"media_id".as("bmp_id"), $"content_hash")
      val jpg = feats.filter($"format" === "jpeg")
        .select($"media_id".as("jpeg_id"), $"content_hash")
      bmp.join(jpg, "content_hash").select($"bmp_id", $"jpeg_id")
    },

    "t_media_content" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id").as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContentContainer(id))
        }
      val feats = graft.ops.Multimodal.extractFeatures(s, media).toDF()
      val embCols = (0 until 8).map(d =>
        element_at($"embedding", d + 1).cast("long").as(s"e$d"))
      feats.select(
        ($"media_id" +: $"format" +: $"content_hash" +: embCols): _*)
    },

    // frame sampling + resize planning over the same real containers:
    // every 2nd frame index capped at 8 refs/media (bounded expansion),
    // resize dims by exact integer scaling into a 64-box; the oracle
    // recomputes indices and dims from the synthesis formulas
    "t_frame_sample" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id").as[Long]
        .map { id =>
          graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContainer(id))
        }
      graft.ops.Multimodal.frameSample(s, media).toDF()
        .select($"media_id", $"frame_idx", $"rw", $"rh")
    },

    // composed training-data pipeline: extract -> quality-score the
    // extracted text -> exact-dedup (md5 window) -> per-extractor
    // rollup — oracle-checked end to end (quality mirrored via the
    // QUAL-1 formula; the rollup sums integer quality-deciles so the
    // compare is exact under parallel aggregation)
    "x_pipeline_e2e" -> { (s, dir) =>
      import s.implicits._
      val (out, _) = Job.run(s, docTurns(s, dir), "e2e",
        orderOutput = false)
      val scored = Job.rankDuplicates(
        out.toDF()
          .filter($"extracted_text" =!= "")
          .withColumn("quality",
            graft.ops.TextStats.qualityScore($"extracted_text")),
        key = "extracted_text", order = Seq("conv_id", "turn_idx"),
        out = "dup_rank") // slim-row rank: text never enters the window
      scored.filter($"dup_rank" === 1 && $"quality" >= 0.5)
        .groupBy($"extractor")
        .agg(count(lit(1)).as("kept"),
          sum(round($"quality" * 10, 0).cast("long")).as("sum_q10"))
    },

    // the same composed pipeline, but ASSEMBLED FROM A JSON CONFIG
    // (reference: PipelineStepFactory, vkit/pipeline/interface.py:
    // 133-148) — must match x_pipeline_e2e's oracle exactly, proving
    // config assembly adds no semantic or plan drift
    "x_config_pipeline" -> { (s, dir) =>
      val config =
        """[
          {"step": "extract", "config": {"ordered": false}},
          {"step": "filter", "config": {"expr": "extracted_text <> ''"}},
          {"step": "quality_score",
           "config": {"col": "extracted_text", "out": "quality"}},
          {"step": "dedupe_exact",
           "config": {"key": "extracted_text",
                      "order": ["conv_id", "turn_idx"],
                      "out": "dup_rank"}},
          {"step": "filter",
           "config": {"expr": "dup_rank = 1 AND quality >= 0.5"}},
          {"step": "agg",
           "config": {"group": ["extractor"],
                      "exprs": ["count(1) AS kept",
            "sum(cast(round(quality * 10, 0) AS long)) AS sum_q10"]}}
        ]"""
      graft.pipe.ConfigPipeline.run(s, docTurns(s, dir), config, "cfg")
    },

    // lineage invariants for a pipeline run over docTurns, oracle-
    // checked: sum(rows_in) == docs + planted duplicates, sum(rows_out)
    // == docs (dedupe dropped the stale rows), zero errors, and
    // exactly one lineage row per partition (attempt-deduped)
    "x_lineage" -> { (s, dir) =>
      import s.implicits._
      val (out, acc) = Job.run(s, docTurns(s, dir), "verify-lineage")
      out.write.mode("overwrite").format("noop").save()
      Job.lineage(s, acc).toDF().agg(
        sum($"rows_in").as("rows_in"),
        sum($"rows_out").as("rows_out"),
        sum($"errors").as("errors"),
        (count(lit(1)) === countDistinct($"partition_id"))
          .as("one_row_per_partition"))
    },

    // ===== relational / span-algebra operator surface =====
    "q_agg_fold" -> { (s, dir) =>
      tbl(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(min("l_extendedprice"), 2).as("min_price"),
          round(max("l_extendedprice"), 2).as("max_price"),
          count(lit(1)).as("n"))
    },

    "q_window_order" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".asc, $"event_id".asc)
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"user_id", $"rn", $"event_id")
    },

    "q_dedupe_rownum" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts".desc, $"event_id".desc)
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id")
    },

    "q_interval_join" -> { (s, dir) =>
      import s.implicits._
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      l.join(o, $"l_orderkey" === $"o_orderkey" &&
          $"l_shipdate" >= $"o_orderdate" &&
          $"l_shipdate" <= $"o_orderdate" + expr("INTERVAL 30 DAYS"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_extendedprice"), 2).as("rev"))
    },

    "q_semi_join" -> { (s, dir) =>
      import s.implicits._
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    },

    "q_anti_join" -> { (s, dir) =>
      import s.implicits._
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_mktsegment")
    },

    "q_broadcast_join" -> { (s, dir) =>
      import s.implicits._
      val c = tbl(s, dir, "customer")
      val n = broadcast(tbl(s, dir, "nation"))
      val r = broadcast(tbl(s, dir, "region"))
      c.join(n, $"c_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n"),
          round(sum($"c_acctbal"), 2).as("bal"))
    },

    "q_set_ops" -> { (s, dir) =>
      import s.implicits._
      val l = tbl(s, dir, "lineitem").select($"l_partkey".as("k"))
      val p = tbl(s, dir, "part").filter($"p_size" > 25)
        .select($"p_partkey".as("k"))
      l.distinct().except(p.distinct())
    },

    "q_topk" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
        .select($"o_orderkey", round($"o_totalprice", 2).as("price"))
    },

    "q_sessionize" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".asc, $"event_id".asc)
      tbl(s, dir, "events")
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("gap",
          when($"prev_ts".isNull, lit(1))
            .when(unix_timestamp($"ts") - unix_timestamp($"prev_ts") >
              1800, lit(1))
            .otherwise(lit(0)))
        .groupBy($"user_id")
        .agg(sum($"gap").as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // Spark's NATIVE session_window aggregation (merging-interval
    // state, the built-in the hand-rolled lag/gap q_sessionize rule
    // approximates): events whose [ts, ts+30min) windows overlap merge
    // into one session. Semantics gate: a gap of EXACTLY 30 minutes
    // starts a new session (half-open windows do not overlap) — the
    // oracle mirrors that >= break rule at full timestamp precision.
    "q_session_window" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "events")
        .groupBy($"user_id",
          session_window($"ts".cast("timestamp"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", unix_timestamp($"w.start").as("w_start"),
          $"n_events")
    },

    // hierarchical aggregation in one pass: rollup emits (flag,
    // status), (flag, ALL) and (ALL, ALL) grouping sets from a single
    // shuffle — at 100 TB this replaces three separate scans+shuffles
    // of the fact table with one
    "q_rollup" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum($"l_quantity"), 2).as("sum_qty"))
    },

    // full CUBE (all 2^k grouping sets in ONE pass — Spark expands the
    // sets inside a single Expand+Aggregate, no per-set rescans)
    "q_cube" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum($"o_totalprice"), 2).as("total"))
    },

    // pivot with EXPLICIT values (the implicit form runs a separate
    // distinct pass over the fact table to discover columns — at scale
    // the value list must be declared); null cells zero-filled so the
    // wide row is total-count complete
    "q_pivot" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
    },

    // as-of join (the time-series join Spark lacks as a primitive):
    // for each purchase, the latest view by the same user at-or-before
    // its timestamp. Implemented the scale-safe way — union both sides
    // tagged, ONE sort-shuffle per user, last_value(ignore nulls) over
    // a running window — instead of a per-row range join (which plans
    // as a broadcast-nested-loop / O(n*m) per key). The oracle is
    // DuckDB's NATIVE ASOF JOIN, an entirely independent algorithm.
    // At equal timestamps the view sorts BEFORE the purchase (side 0
    // < 1), giving the >= as-of semantics; the events table has no
    // (user_id, ts) duplicates, so the match is deterministic.
    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = tbl(s, dir, "events")
      graft.ops.AsofJoin.asof(
        ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id".as("purchase_id")),
        ev.filter($"event_type" === "view")
          .select($"user_id", $"ts", $"event_id".as("view_id")),
        keyCol = "user_id", tsCol = "ts",
        leftIdCol = "purchase_id", rightIdCol = "view_id")
        .select($"purchase_id", $"user_id", $"asof_view_id")
    },

    // skew-mitigated join via explicit salting: the fact side is given
    // a deliberately skewed key (two thirds of all events collapse to
    // key 0 — the hot-entity shape of any web corpus); a plain
    // shuffle join would put every key-0 row in ONE task. The dim side
    // is exploded x16 (one copy per salt), the fact side salted by
    // xxhash64(event_id) % 16, and the join runs on (key, salt) — the
    // hot key's rows spread over 16 tasks while results stay exactly
    // the plain join's. AQE skew-join handles sort-merge cases at
    // runtime; explicit salting is the declarative form that also
    // covers aggregations and survives AQE being disabled. The
    // revenue sum uses a per-row integer encoding (floor of cents) so
    // parallel summation is associative and the DuckDB compare exact.
    "q_skew_salted" -> { (s, dir) =>
      import s.implicits._
      val nSalts = 16
      val fact = tbl(s, dir, "events")
        .withColumn("k",
          when($"user_id" < 100, 0L).otherwise($"user_id"))
        .withColumn("salt", pmod(xxhash64($"event_id"), lit(nSalts)))
        .withColumn("cents", floor($"value" * 100).cast("long"))
      val dim = tbl(s, dir, "customer").filter($"c_custkey" < 150)
        .select($"c_custkey".as("k"), $"c_mktsegment")
        .withColumn("salt",
          explode(array((0 until nSalts).map(i => lit(i.toLong)): _*)))
      // shuffle_hash hint: at this SF the exploded dim would
      // broadcast (making the salt moot); at the 100 TB shape the
      // dim is too big to broadcast and the join shuffles — the hint
      // pins the plan the technique exists for
      fact.join(dim.hint("shuffle_hash"), Seq("k", "salt"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
    },

    // ===== training-data ops =====

    // histogram-quantile sketch: exact percentiles need a full sort of
    // every group's rows; binning first means the shuffle carries at
    // most |bins| cells per group (here <= 491) no matter how many
    // rows feed them — the 100 TB quantile pattern. Quantile selection
    // is INTEGER-ONLY (cum*2 >= total, cum*20 >= 19*total) so the
    // DuckDB compare is exact.
    "t_quantile_hist" -> { (s, dir) =>
      import s.implicits._
      val binned = tbl(s, dir, "events")
        .select($"event_type", floor($"value").cast("long").as("bin"))
        .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c"))
      val run = Window.partitionBy($"event_type").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy($"event_type")
      binned
        .withColumn("cum", sum($"c").over(run))
        .withColumn("total", sum($"c").over(all))
        .groupBy($"event_type")
        .agg(
          min(when($"cum" * 2 >= $"total", $"bin")).as("p50_bin"),
          min(when($"cum" * 20 >= $"total" * 19, $"bin")).as("p95_bin"),
          max($"total").as("n"))
    },

    // stratified deterministic sampling: a fixed-size per-language
    // sample (the balanced-training-mix draw), selected by md5 rank so
    // the draw is reproducible across runs/partitionings and biased by
    // nothing (SAMPLE-1's hash-order principle, per stratum). The rank
    // window sorts only (lang, md5, id) slim rows. Oracle: identical
    // rank rule in SQL.
    "t_sample_stratified" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy($"h".asc, $"doc_id".asc)
      docs(s, dir)
        .select($"doc_id", $"lang", md5($"text").as("h"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"lang", $"rn", $"doc_id")
    },

    // vocabulary heavy-hitters: per-language top-5 word bigrams. The
    // scale shape: rows collapse to (lang, bigram, count) cells in ONE
    // hash aggregation (map-side combined — each mapper emits at most
    // its distinct-bigram count, not its row count), and the rank
    // window then sorts only the aggregated cells. Ties broken by
    // bigram text so the top-k is deterministic.
    "t_top_ngrams" -> { (s, dir) =>
      import s.implicits._
      val ws = filter(split($"text", " "), w => w =!= "")
      val bigrams = when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1), i =>
          concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
        .otherwise(array())
      // repartition: single small parquet file -> one scan task would
      // serialize the explode + map-side partial aggregation (see the
      // t_repetition note); at real scale the input has many splits
      val cells = docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"lang", explode(bigrams).as("bg"))
        .groupBy($"lang", $"bg").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"lang")
        .orderBy($"c".desc, $"bg".asc)
      cells.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"lang", $"rn", $"bg", $"c")
    },

    // bounded-state distinct sketch: KMV (k smallest distinct mix64
    // hashes, k=256) per group, as a native TypedImperativeAggregate —
    // O(k) state per group regardless of group size, partials merge
    // map-side, and the integer-only estimator is reproduced bit for
    // bit by the DuckDB oracle (SplitMix64 in HUGEINT + the same
    // ((k-1)<<64)/h_k floor division). The exact count rides along so
    // the sketch's error is visible in the verified output.
    "t_kmv_distinct" -> { (s, dir) =>
      import s.implicits._
      // repartition: the single-file lineitem scan would serialize the
      // partial KMV/distinct aggregation on one core (t_top_ngrams
      // note); at real scale the input has many splits
      tbl(s, dir, "lineitem")
        .repartition(s.sparkContext.defaultParallelism)
        .groupBy($"l_returnflag")
        .agg(
          graft.functions.KmvDistinct
            .kmvDistinct($"l_partkey", 256).as("est_distinct"),
          countDistinct($"l_partkey").as("exact_distinct"))
    },

    // sketch STORE: per-(returnflag, linestatus) KMV sketches computed
    // once and PERSISTED as <= 2 KiB blobs, then the per-returnflag
    // distinct estimate answered by MERGING the stored blobs — no
    // rescan of the raw table. The merge-of-sketches equals the sketch
    // of the union exactly (the k smallest distinct hashes of a union
    // are contained in the union of the parts' k smallest), so the
    // oracle is the same integer estimator over all values directly.
    "t_kmv_merge" -> { (s, dir) =>
      import s.implicits._
      val tmp = scratchDir("kmvstore")
      // NOT spread: the kmv-sketch partial is one mix64 per row (no
      // distinct set), so the repartition exchange cost more than the
      // parallelism paid (measured 0.65 -> 1.16 s; reverted)
      tbl(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(graft.functions.KmvDistinct
          .kmvSketch($"l_partkey", 256).as("sk"))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy($"l_returnflag")
        .agg(graft.functions.KmvDistinct
          .kmvMergeEstimate($"sk", 256).as("est_distinct"))
    },

    "t_tokens" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars"))
    },

    // BPE-1 subword token counting (see ops/Bpe.scala): frozen merge
    // table applied as a nested-replace chain over fenced-char word
    // encodings; bpe_hash pins the exact merge table into the gate.
    // repartition: CPU-bound 50-deep replace chain per word (see the
    // t_repetition note on single-file scans)
    "t_bpe_tokens" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          graft.ops.Bpe.tokenCount($"text").as("n_bpe_tokens"),
          lit(graft.ops.Bpe.contentHash).as("bpe_hash"))
    },

    "t_dedup_exact" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"h")
      docs(s, dir)
        .withColumn("h", md5($"text"))
        .withColumn("dup_cnt", count(lit(1)).over(w))
        .select($"doc_id", $"h", ($"dup_cnt" > 1).as("is_dup"))
    },

    "t_dedup_minhash" -> { (s, dir) =>
      import s.implicits._
      // corpus = documents + near-dup twins (tail words appended);
      // MinHash LSH candidates, EXACT jaccard >= 0.8 verification
      val d = docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      val corpus = d.union(d.map { case (id, t) =>
        (id + 1000000L, t + " graft dedup tail marker")
      })
      graft.ops.MinHashDedup.nearDuplicates(s, corpus)
    },

    // incremental dedup: the daily-batch-vs-history shape. The
    // historical corpus's band index is computed ONCE and PERSISTED
    // (parquet scratch stands in for the index table); the new batch
    // (tail-marker twins) is then deduped against the index READ BACK
    // FROM STORAGE — history is never re-shingled, and historical text
    // is fetched only for candidate ids. Must find exactly the
    // inter-set jaccard>=0.8 pairs the oracle computes exhaustively.
    "t_dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      val hist = docs(s, dir).select($"doc_id", $"text")
        .as[(Long, String)]
      val tmp = scratchDir("dedupidx")
      graft.ops.MinHashDedup.bandIndex(s, hist)
        .write.mode("overwrite").parquet(s"$tmp/index")
      val newBatch = hist.map { case (id, t) =>
        (id + 1000000L, t + " graft dedup tail marker")
      }
      graft.ops.MinHashDedup.nearDuplicatesIncremental(s,
        s.read.parquet(s"$tmp/index"), hist, newBatch)
    },

    // WINNOW-1 substring-level containment dedup: every 4th doc gets a
    // CONTAINED twin (the full doc text embedded inside fresh padding)
    // — whole-doc jaccard between doc and twin is LOW (the padding
    // dominates), so the minhash family misses it by design; winnowing
    // fingerprints are local and must recover exactly these pairs.
    // Fingerprints are deterministic, so the oracle recomputes the
    // ENTIRE chain exactly (k-gram hashes -> window minima -> fp-cap ->
    // containment scores) — no recall caveat, unlike LSH gates.
    "t_containment" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text")
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
      val corpus = d.union(d.filter(_._1 % 4 == 0).map { case (id, t) =>
        (id + 2000000L,
          "alpha beta gamma delta padding " + t +
            " omega psi chi padding words")
      })
      graft.ops.Winnow.containmentPairs(s, corpus.toDF("id", "text"))
    },

    // day-2 containment: history fingerprinted ONCE into a persisted
    // (f, id) index; the arriving batch (every 4th doc embedded in
    // fresh padding) is checked against the index READ BACK FROM
    // STORAGE — history text is never re-fingerprinted, and only
    // inter-set pairs can form
    "t_containment_incremental" -> { (s, dir) =>
      import s.implicits._
      val hist = docs(s, dir).select($"doc_id", $"text")
        .as[(Long, String)]
      val tmp = scratchDir("winnowidx")
      graft.ops.Winnow.fingerprintIndex(s, hist.toDF("id", "text"))
        .write.mode("overwrite").parquet(s"$tmp/index")
      val newBatch = hist.filter(_._1 % 4 == 0).map { case (id, t) =>
        (id + 2000000L,
          "alpha beta gamma delta padding " + t +
            " omega psi chi padding words")
      }
      graft.ops.Winnow.containmentIncremental(s,
        s.read.parquet(s"$tmp/index"), newBatch.toDF("id", "text"))
    },

    // benchmark decontamination (GPT-3 13-gram rule): every 97th doc
    // contributes a 30-word excerpt (words 11..40) as a "benchmark"
    // item; the engine must flag exactly the docs containing those
    // excerpts verbatim — and nothing else (no coincidental 13-gram
    // collisions exist in the synthetic corpus)
    "t_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val bench = d.filter($"doc_id" % 97 === 0)
        .select(array_join(
          slice(filter(split($"text", " "), w => w =!= ""), 11, 30),
          " ").as("text"))
      graft.ops.Retrieval.decontaminate(
        s, d.select($"doc_id", $"text"), bench)
    },

    // BLOOM-path decontamination: same 13-gram rule, but the bench set
    // collapses to a 4 KiB BLOOM-1 blob broadcast once to every
    // executor — the corpus side tests each doc's grams INLINE with
    // zero corpus shuffle (the exact-join version must distinct +
    // shuffle every (doc, gram) pair). False positives are
    // deterministic under the frozen hash and the oracle recomputes
    // the exact set-bit positions, so the gate is exact, not
    // approximate.
    "t_bloom_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val bench = d.filter($"doc_id" % 97 === 0)
        .select(array_join(
          slice(filter(split($"text", " "), w => w =!= ""), 11, 30),
          " ").as("text"))
      graft.ops.Retrieval.decontaminateBloom(
        s, d.select($"doc_id", $"text"), bench)
    },

    // BLOOM sketch STORE: per-slice vocabulary blobs (doc_id % 4)
    // OR-merged answer membership over the union with no rescan —
    // merge-of-blobs == blob-of-union exactly. Probes: every 50th
    // doc's first token (present) plus two planted strings (absent
    // unless the mirrored hash says otherwise).
    "t_bloom_merge" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val ws = filter(split($"text", " "), w => w =!= "")
      val slices = d
        .select(($"doc_id" % 4).as("slice"), explode(ws).as("tok"))
        .groupBy($"slice")
        .agg(graft.functions.Bloom.bloomAgg($"tok", 1048576, 7)
          .as("blob"))
      val merged = slices
        .agg(graft.functions.Bloom.bloomMerge($"blob").as("b"))
        .head.getAs[Array[Byte]](0)
      val probes = d.filter($"doc_id" % 50 === 0)
        .select(ws.as("ws")).filter(size($"ws") >= 1)
        .select(element_at($"ws", 1).as("probe"))
        .union(s.createDataset(Seq("zzz@absent@1", "zzz@absent@2"))
          .toDF("probe"))
        .distinct()
      probes.select($"probe", graft.functions.Bloom
        .bloomContains(s.sparkContext.broadcast(merged), $"probe", 7)
        .as("hit"))
    },

    // BM25 top-k retrieval over an inverted index: every 101st doc's
    // first-4-token set is a query; scores are scaled-long encoded so
    // the oracle's sums match bit for bit
    "t_bm25" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val queries = d.filter($"doc_id" % 101 === 0)
        .select($"doc_id".as("qid"),
          array_distinct(slice(
            filter(split($"text", " "), w => w =!= ""), 1, 4))
            .as("terms"))
      graft.ops.Retrieval.bm25TopK(s, d.select($"doc_id", $"text"),
        queries)
    },

    // temperature source balancing over a planted 4x-skewed source
    // (src0 duplicated 3 extra times under offset ids): budgets
    // proportional to count^0.5 flatten the source histogram
    "t_source_balance" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text", $"source")
      val skew = d.filter($"source" === "src0")
        .crossJoin(Seq(1, 2, 3).toDF("c"))
        .select(($"doc_id" + $"c" * 10000000L).as("doc_id"),
          $"text", $"source")
      graft.ops.Retrieval.temperatureBalance(s, d.union(skew))
    },

    // CCNet-style self-trained bigram-LM quality score: mean negative
    // log probability per doc, add-one smoothing, scaled-long exact
    "t_lm_score" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Retrieval.lmScore(
        s, docs(s, dir).select($"doc_id", $"text"))
    },

    // context-length chunking: 32-token windows advancing by 24 (8-token
    // overlap); chunk md5 pins exact content, the trailing chunk may be
    // short, every token lands in at least one chunk
    "t_chunk" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Retrieval.chunk(
        s, docs(s, dir).select($"doc_id", $"text"))
    },

    // sequence packing: concat-and-chunk context assembly over 16
    // deterministic md5-bucketed packing streams — per-doc stream
    // offset and the context windows each doc lands in
    "t_pack" -> { (s, dir) =>
      import s.implicits._
      graft.ops.Retrieval.pack(
        s, docs(s, dir).select($"doc_id", $"text"))
    },

    // the TRAINING-MIX flagship: the retrieval family composed end to
    // end over a 4x-source-skewed corpus — benchmark decontamination
    // (excerpt grams out, copies of contaminated docs drop too),
    // temperature balance of the SURVIVORS (budgets from post-decon
    // counts), then a self-trained bigram-LM gate (keep docs at or
    // below the global mean NLL, trained on the balanced rows only).
    // Every stage is deterministic; the oracle recomposes all three
    // chains exactly in SQL. Per-source survivor stats come out, with
    // id sums pinning WHICH rows survived.
    "t_corpus_mix" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text", $"source")
      val skew = d.filter($"source" === "src0")
        .crossJoin(Seq(1, 2, 3).toDF("c"))
        .select(($"doc_id" + $"c" * 10000000L).as("doc_id"),
          $"text", $"source")
      val corpus = d.union(skew)
      val bench = docs(s, dir).filter($"doc_id" % 97 === 0)
        .select(array_join(
          slice(filter(split($"text", " "), w => w =!= ""), 11, 30),
          " ").as("text"))
      val contaminated = graft.ops.Retrieval
        .decontaminate(s, corpus.select($"doc_id", $"text"), bench)
        .select($"doc_id")
      val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      val keptIds = graft.ops.Retrieval.temperatureKept(s, clean)
        .select($"doc_id")
      // keptRows is the shared root of FOUR downstream consumers (the
      // lmScore model aggregations + vocab + the final survivor join):
      // materialize it once so the decontaminate + balance upstream —
      // itself a multi-exchange composition — does not re-execute per
      // consumer; same for the per-doc scores feeding the mean gate
      // AND the gate filter
      val keptRows = clean.join(keptIds, Seq("doc_id"))
        .localCheckpoint()
      val scores = graft.ops.Retrieval
        .lmScore(s, keptRows.select($"doc_id", $"text"))
        .localCheckpoint()
      val gate = scores
        .agg(expr("sum(nll_mean_scaled) div count(1)").as("avg_nll"))
      val fin = scores.crossJoin(broadcast(gate))
        .filter($"nll_mean_scaled" <= $"avg_nll")
        .select($"doc_id")
      keptRows.join(fin, Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_final"),
          sum($"doc_id").as("id_sum_final"))
    },

    "t_ngram_jaccard" -> { (s, dir) =>
      import s.implicits._
      // char-8-gram jaccard flavor over the same twin corpus.
      // repartition: 8-grams make this the CPU-heaviest shingler (one
      // hash per CHARACTER position), so the single-file scan task is
      // worth a shuffle to parallelize; the word-shingle siblings stay
      // un-repartitioned — there the extra stage costs more than the
      // parallelism pays. Steady-state timing evidence lives in the
      // bench artifact itself now (best-of-k min + spread) — no
      // point-in-time numbers here, they rot (r4 lesson)
      val d = docs(s, dir).select($"doc_id", $"text")
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
      val corpus = d.union(d.map { case (id, t) =>
        (id + 1000000L, t + " graft dedup tail marker")
      })
      graft.ops.MinHashDedup.nearDuplicates(s, corpus, threshold = 0.8,
        shingler = graft.ops.MinHashDedup.charNgramShingler(8))
    },

    "t_dedup_embedding" -> { (s, dir) =>
      import s.implicits._
      // corpus = embeddings + scaled twins (cosine exactly 1.0);
      // LSH buckets + multi-probe + exact cosine >= 0.95 verify.
      // FIXTURE INVARIANT (do not break): the oracle is an exhaustive
      // all-pairs cosine>=0.95 scan, while the engine is recall-lossy
      // for non-colinear pairs (~0.94 at these settings); the gate is
      // exact ONLY because every qualifying pair here is exactly
      // colinear (0 hyperplane sign flips -> guaranteed bucket match).
      // Adding a ~0.95-cosine non-colinear pair to the fixture would
      // make this gate flaky — use a planted-twin oracle (t_ann_lsh
      // style) instead if that regime is ever needed.
      val emb = tbl(s, dir, "embeddings")
        .select($"vec_id".as("id"), $"embedding".as("vec"))
      val twins = emb.select(($"id" + 1000000L).as("id"),
        transform($"vec", x => x * lit(1.01f)).as("vec"))
      graft.ops.EmbeddingDedup.nearDuplicates(s, emb.union(twins),
        dim = 64)
    },

    // dedup clustering: near-dup pairs -> connected components ->
    // canonical keeper. Corpus plants a CHAIN per doc (doc ~ twin1 ~
    // twin2 where typically j(doc,twin1) and j(twin1,twin2) >= 0.9 but
    // j(doc,twin2) < 0.9), so components require multi-hop propagation
    // — a pair list alone cannot produce them. Oracle: exact-jaccard
    // edges recomputed in SQL + recursive-CTE transitive closure.
    "t_dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      val corpus = d
        .union(d.map { case (id, t) =>
          (id + 1000000L, t + " graft cluster tail one")
        })
        .union(d.map { case (id, t) =>
          (id + 2000000L, t + " graft cluster tail one chain tail two")
        })
      val pairs = graft.ops.MinHashDedup.nearDuplicates(s, corpus,
        threshold = 0.9)
      graft.ops.Clusters.keepers(s, pairs,
        corpus.toDF("id", "text").select($"id"))
    },

    // the flagship corpus-curation composition: near-dup CLUSTER
    // keepers (minhash pairs -> connected components -> min-id keeper)
    // -> quality gate -> language ID -> PII scrub, all in one job over
    // a corpus with planted twins; the oracle reassembles the same
    // flow from the independently tested SQL fragments (exact jaccard
    // edges + recursive closure + QUAL-1 + LANGID-4 + REDACT-1)
    "t_corpus_cleanse" -> { (s, dir) =>
      import s.implicits._
      val corpus = cleanseCorpus(s, dir)
      // the recall ledger rides the flagship plan itself: the SAME
      // count pass that prunes degenerate buckets lands dropped_
      // buckets/dropped_rows on this run's Observation (readable by
      // the operator after the action; oracle-gated standalone by
      // t_cleanse_ledger)
      val obs = new org.apache.spark.sql.Observation("cleanse-recall")
      val pairs = graft.ops.MinHashDedup.nearDuplicates(s, corpus,
        threshold = 0.9, ledger = obs)
      val keep = graft.ops.Clusters.keepers(s, pairs,
        corpus.toDF("id", "text").select($"id"))
        .filter($"is_keeper").select($"id")
      // LEFT SEMI (== inner: keep ids are unique) — the semi join
      // pushes below cleanseCorpus's repartition exchange, so the
      // QUAL-1/LANGID-4/REDACT-1 gates run on the full-parallelism
      // exchange read instead of serializing after the join (the
      // measured x_config_cleanse plan shape: 4.1 s single-task gate
      // stage -> parallel)
      // Once: without the barrier the quality >= 0.5 predicate is
      // pushed below the repartition exchange with the full QUAL-1
      // expression substituted in — evaluated once on the narrow scan
      // AND again in this projection (guide §4.4)
      corpus.toDF("id", "text").join(keep, Seq("id"), "left_semi")
        .withColumn("quality", graft.functions.OnceOps.once(
          graft.ops.TextStats.qualityScore($"text")))
        .filter($"quality" >= 0.5)
        .select($"id",
          graft.ops.Lexicon.langId($"text").as("lang_pred"),
          round($"quality", 2).as("quality"),
          graft.ops.TextStats.redactPII($"text").as("clean_text"))
    },

    // the FLAGSHIP CURATION RUN ASSEMBLED FROM JSON: dedupe_near ->
    // quality gate -> lang_id -> redact -> projection, every stage
    // from the ConfigPipeline registry over a plain document table —
    // must reproduce t_corpus_cleanse's oracle exactly, proving the
    // config surface covers the corpus-ops family with no semantic or
    // plan drift (the extraction-side twin of this gate is
    // x_config_pipeline == x_pipeline_e2e)
    "x_config_cleanse" -> { (s, dir) =>
      val config =
        """[
          {"step": "dedupe_near",
           "config": {"id": "id", "text": "text", "threshold": 0.9}},
          {"step": "quality_score",
           "config": {"col": "text", "out": "quality"}},
          {"step": "filter", "config": {"expr": "quality >= 0.5"}},
          {"step": "lang_id",
           "config": {"col": "text", "out": "lang_pred"}},
          {"step": "redact",
           "config": {"col": "text", "out": "clean_text"}},
          {"step": "with_column",
           "config": {"name": "quality", "expr": "round(quality, 2)"}},
          {"step": "select",
           "config": {"cols": ["id", "lang_pred", "quality",
                               "clean_text"]}}
        ]"""
      graft.pipe.ConfigPipeline.runOps(s,
        cleanseCorpus(s, dir).toDF("id", "text"), config)
    },

    // CONVERSATION-level dedup: real curation dedupes whole
    // conversations, not turns. Documents group into convs of 4
    // ordered turns; reassembly is ONE aggregation (turn order
    // restored inside the aggregated array — array_sort on the
    // (turn_key, text) struct — no window, no second shuffle); every
    // conv gets a planted near-dup twin (tail turn appended); minhash
    // at conversation granularity + connected components must keep
    // exactly the canonical conv of each twin pair. The oracle
    // reassembles identically in SQL and recomputes exact jaccard +
    // transitive closure.
    "t_dedup_conv" -> { (s, dir) =>
      import s.implicits._
      val convs = docs(s, dir)
        .groupBy(expr("doc_id DIV 4").as("id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct($"doc_id", $"text"))),
          x => x("text"))).as("text"))
      val corpus = convs.union(convs.select(
          ($"id" + 1000000L).as("id"),
          concat($"text", lit(" graft conv tail one")).as("text")))
        .as[(Long, String)]
      val pairs = graft.ops.MinHashDedup.nearDuplicates(s, corpus,
        threshold = 0.9)
      graft.ops.Clusters.keepers(s, pairs,
        corpus.toDF("id", "text").select($"id"))
        .select($"id", $"is_keeper")
    },

    // LINE-level corpus dedup (C4/RefinedWeb boilerplate rule): docs
    // reflowed into 8-word lines; every 3rd doc gets a planted
    // "subscribe" header line, every 5th a copyright footer — lines
    // recurring in >= 3 distinct docs are removed from ALL docs and
    // each doc reassembled from its survivors. Whole-doc jaccard never
    // sees these pairs; the line-frequency rule is what strips the
    // template mass a crawl is full of. The oracle recomputes the
    // entire chain (reflow, plants, distinct-doc counts, threshold,
    // ordered reassembly hash) exactly.
    "t_dedup_lines" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text")
        .withColumn("ws", filter(split($"text", " "), w => w =!= ""))
        .filter(size($"ws") >= 1)
      val body = transform(
        sequence(lit(1L), expr("(size(ws) + 7) div 8")),
        i => array_join(slice($"ws", ((i - lit(1L)) * 8 + 1).cast("int"),
          lit(8)), " "))
      val empty = expr("cast(array() as array<string>)")
      val lines = concat(
        when($"doc_id" % 3 === 0,
          array(lit("subscribe to our newsletter today"))).otherwise(empty),
        body,
        when($"doc_id" % 5 === 0,
          array(lit("copyright two thousand all rights reserved")))
          .otherwise(empty))
      graft.ops.LineDedup.dedupLines(s,
        d.select($"doc_id", array_join(lines, "\n").as("text")))
    },

    // EXACT-SUBSTRING dedup (Lee et al. 2021 ExactSubstr): any 6-token
    // window occurring >= 2 times in the corpus (within-doc repeats
    // count) marks all its occurrences; covered tokens are stripped and
    // each doc reassembled from survivors. Every 4th doc gets a planted
    // 12-token passage appended — a verbatim mid-document quote that
    // whole-doc jaccard and line-aligned dedup both miss. The oracle
    // recomputes the full chain (plant, window hashes, occurrence
    // counts, token coverage, ordered survivor md5) exactly.
    "t_dedup_substr" -> { (s, dir) =>
      import s.implicits._
      val phrase = Seq("the", "quick", "brown", "fox", "jumps", "over",
        "the", "lazy", "dog", "again", "and", "again")
      val d = docs(s, dir).select($"doc_id", $"text")
        .withColumn("ws0", filter(split($"text", " "), t => t =!= ""))
        .filter(size($"ws0") >= 1)
      val planted = concat($"ws0",
        when($"doc_id" % 4 === 0, array(phrase.map(lit): _*))
          .otherwise(expr("cast(array() as array<string>)")))
      graft.ops.ExactSubstr.dedupSubstrings(s,
        d.select($"doc_id", array_join(planted, " ").as("text")), w = 6)
    },

    // URL-1 canonicalization — the cheapest dedup tier, run before any
    // content dedup: fragment dropped, scheme/host lowercased, default
    // ports stripped, utm_*/fbclid/gclid params removed preserving the
    // order of survivors. Five deterministic URL shapes per doc cover
    // every branch; the oracle recomputes the identical split_part
    // chain, so any divergence in the rule set breaks the gate.
    "t_url_normalize" -> { (s, dir) =>
      import s.implicits._
      val id = $"doc_id".cast("string")
      val url = when($"doc_id" % 5 === 0,
        concat(lit("HTTP://EXAMPLE.com:80/Path/"), id,
          lit("?utm_source=feed&id="), id, lit("#frag")))
        .when($"doc_id" % 5 === 1,
          lit("https://Sub.Example.COM:443/a/b?gclid=xyz"))
        .when($"doc_id" % 5 === 2,
          concat(lit("http://example.org:8080/x?id="), id,
            lit("&utm_campaign=c&q=term")))
        .when($"doc_id" % 5 === 3,
          concat(lit("HTTPS://CDN.example.net/asset/"), id))
        .otherwise(lit("http://example.com/?fbclid=1&keep=2#x"))
      docs(s, dir).select($"doc_id", url.as("url"))
        .select($"doc_id", graft.ops.UrlOps.host($"url").as("host"),
          graft.ops.UrlOps.normalize($"url").as("url_norm"))
    },

    // SNAPSHOT DIFF — the corpus-ops audit between two crawl/curation
    // snapshots: added / removed / modified docs by content hash. New
    // snapshot synthesized from the old: every 7th doc dropped, every
    // 11th amended, every 13th re-added under an offset id. Scale
    // shape: both sides collapse to (doc_id, md5) BEFORE the single
    // full-outer join — document text never enters the exchange, and
    // the unchanged mass (the overwhelming majority at 100 TB) is
    // filtered out of the result.
    "t_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text")
      val newSnap = d.filter($"doc_id" % 7 =!= 0)
        .withColumn("text", when($"doc_id" % 11 === 0,
          concat($"text", lit(" amended"))).otherwise($"text"))
        .unionByName(d.filter($"doc_id" % 13 === 0)
          .select(($"doc_id" + 7000000L).as("doc_id"), $"text"))
      val o = d.select($"doc_id", md5($"text").as("h_old"))
      val n = newSnap.select($"doc_id", md5($"text").as("h_new"))
      o.join(n, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"h_old".isNull, "added")
            .when($"h_new".isNull, "removed")
            .when($"h_old" =!= $"h_new", "modified")
            .otherwise("unchanged").as("status"))
        .filter($"status" =!= "unchanged")
    },

    // SNAPSHOT-INCREMENTAL RESUME under the oracle (the north rule's
    // "resumable from checkpoint" as a driver gate, not just a unit
    // test): the doc-turn corpus staged as 8 conv-partitioned input
    // files; increment r1 sees only the first 4 and commits; a crashed
    // increment stages an ORPHAN run directory WITHOUT committing (the
    // crash window); increment r2 sees all 8 and must process exactly
    // the 4 new files; replaying r2 is a no-op. readCommitted must
    // union exactly r1+r2 — orphan invisible — and equal a single-shot
    // run over all 8 files row for row. The emitted row carries the
    // counts the oracle predicts as literals: any resume bug
    // (reprocessed file, lost file, duplicated rows, orphan leak)
    // flips a value.
    "x_resume" -> { (s, dir) =>
      import s.implicits._
      import graft.schema.Turn
      val tmp = scratchDir("resume")
      // conv-partitioned staging: a conversation (and its planted
      // stale duplicates) never straddles increments, so per-increment
      // dedupe composes to the global dedupe of the single-shot run
      docTurns(s, dir).toDF().repartition(8, $"conv_id")
        .write.mode("overwrite").parquet(s"$tmp/all")
      val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
      val parts = new java.io.File(s"$tmp/all").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
      def reveal(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(inDir, f.getName).toPath)
      }
      val out = s"$tmp/out"
      val state = s"$tmp/state"
      reveal(parts.take(4))
      val n1 = graft.pipe.Checkpoint.runIncremental(s, inDir.toString, out, state,
        "r1")
      // crash window: a staged-but-never-committed run directory
      s.read.parquet(s"$out/extracted/run=r1")
        .write.mode("overwrite").parquet(s"$out/extracted/run=zz-orphan")
      reveal(parts.drop(4))
      val n2 = graft.pipe.Checkpoint.runIncremental(s, inDir.toString, out, state,
        "r2")
      val n3 = graft.pipe.Checkpoint.runIncremental(s, inDir.toString, out, state,
        "r2") // replay after commit: must be a 0-file no-op
      val manifest = graft.pipe.Checkpoint.readManifest(s, state)
      val resumed = graft.pipe.Checkpoint.readCommitted(s, out, state, "extracted")
      // the single-shot pipeline feeds the diff actions; localCheckpoint
      // runs the extraction once (resumed is a bare parquet read-back —
      // re-scanning it is cheaper than materializing)
      val (single, _) = Job.run(s,
        s.read.parquet(inDir.toString).as[Turn], "single",
        orderOutput = false)
      val (diff, delta) = resumeDiff(resumed,
        single.toDF().localCheckpoint())
      s.range(1).select(
        lit(n1).as("files_run1"), lit(n2).as("files_run2"),
        lit(n3).as("files_replay"),
        lit(manifest.files.size).as("manifest_files"),
        lit(manifest.runs.size).as("committed_runs"),
        lit(diff).as("diff_count"), lit(delta).as("row_delta"))
    },

    // the JSON-assembled MEDIA pipeline: the same twin-planted corpus
    // as t_media_dedup, but decode + content-hash dedup are assembled
    // from config (media_features -> dedupe_media -> select) instead
    // of hand-written — and must land the IDENTICAL product under the
    // identical oracle, proving the config surface covers the
    // multimodal arm as it already covers the text arm
    "x_config_media" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir).select($"doc_id").as[Long]
        .flatMap { id =>
          val base = graft.ops.Multimodal.MediaRow(id, "binary",
            graft.ops.Multimodal.synthContentContainer(id))
          if (id % 3 == 0)
            Seq(base, graft.ops.Multimodal.MediaRow(id + 5000000L,
              "binary", graft.ops.Multimodal.synthContentTwin(id)))
          else Seq(base)
        }
      val config =
        """[
          {"step": "media_features",
           "config": {"id": "media_id", "payload": "payload",
                      "kind": "kind", "mode": "content"}},
          {"step": "dedupe_media",
           "config": {"hash": "content_hash", "out": "is_dup"}},
          {"step": "select",
           "config": {"cols": ["media_id", "content_hash", "is_dup"]}}
        ]"""
      graft.pipe.ConfigPipeline.runOps(s, media.toDF(), config)
    },

    // the JSON surface reaches the retrieval family: one input table
    // carrying both the corpus docs and the benchmark excerpts (ids
    // offset by 5000000), a config-assembled decontaminate step, and
    // the product must equal the hand-written t_decontaminate's
    "x_config_retrieval" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val excerpts = d.filter($"doc_id" % 97 === 0)
        .select(($"doc_id" + 5000000L).as("doc_id"),
          array_join(
            slice(filter(split($"text", " "), w => w =!= ""), 11, 30),
            " ").as("text"))
      val input = d.select($"doc_id", $"text").union(excerpts)
      graft.pipe.ConfigPipeline.runOps(s, input,
        """[
          {"step": "decontaminate",
           "config": {"id": "doc_id", "text": "text",
                      "bench_expr": "doc_id >= 5000000", "n": 13}}
        ]""")
    },

    // JSON-assembled packing: the config surface reaches the context-
    // assembly family too — must equal t_pack's product exactly
    "x_config_pack" -> { (s, dir) =>
      import s.implicits._
      graft.pipe.ConfigPipeline.runOps(s,
        docs(s, dir).select($"doc_id", $"text"),
        """[
          {"step": "pack", "config": {"context_len": 128}}
        ]""")
    },

    // the DAILY-BATCH composition — the day-2 shape of the flagship
    // curation run (t_corpus_cleanse is day 0 over the full corpus):
    // sign the history into a persisted band index, dedupe the
    // arriving batch AGAINST THE INDEX (half the batch is planted
    // near-dups of history and must drop; the other half is
    // word-reversed fresh text and must survive), then the QUAL-1 /
    // LANGID-4 / REDACT-1 gates on the survivors. History is never
    // re-shingled; the oracle recomputes everything exhaustively.
    "t_incremental_cleanse" -> { (s, dir) =>
      import s.implicits._
      val hist = docs(s, dir).select($"doc_id", $"text")
        .as[(Long, String)]
        .repartition(s.sparkContext.defaultParallelism)
      val tmp = scratchDir("inccleanse")
      graft.ops.MinHashDedup.bandIndex(s, hist)
        .write.mode("overwrite").parquet(s"$tmp/index")
      val newBatch = hist.map { case (id, t) =>
        if (id % 2 == 0) (id + 1000000L, t + " graft dedup tail marker")
        else (id + 1000000L,
          t.split(' ').filter(_.nonEmpty).reverse.mkString(" "))
      }
      val dupNew = graft.ops.MinHashDedup.nearDuplicatesIncremental(s,
        s.read.parquet(s"$tmp/index"), hist, newBatch)
        .select($"new_id".as("id")).distinct()
      // gates BEFORE the anti join: quality/langid/redact are row-local
      // (the join only filters by id), so hoisting them keeps the
      // regex CPU on the 32-partition batch instead of the post-join
      // exchange (AQE rightly coalesces the tiny anti-join shuffle to
      // one partition; the gates must not inherit that) — and the
      // quality filter now drops rows before the join shuffle, which
      // carries clean_text in place of text (same bytes)
      newBatch.toDF("id", "text")
        .withColumn("quality", graft.functions.OnceOps.once(
          graft.ops.TextStats.qualityScore($"text")))
        .filter($"quality" >= 0.5)
        .select($"id",
          graft.ops.Lexicon.langId($"text").as("lang_pred"),
          round($"quality", 2).as("quality"),
          graft.ops.TextStats.redactPII($"text").as("clean_text"))
        .join(dupNew, Seq("id"), "left_anti")
    },

    // the flagship's recall ledger under the oracle: the same twin
    // corpus and pair job as t_corpus_cleanse with the ledger
    // Observation attached; the emitted row carries the drop counts
    // (deterministically zero at this fixture — every bucket holds a
    // doc/twin pair, far under bucketCap; a data change that silently
    // started dropping buckets would break this gate) plus the pair
    // count the oracle recomputes by exact jaccard
    "t_cleanse_ledger" -> { (s, dir) =>
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation("cleanse-ledger")
      val pairs = graft.ops.MinHashDedup.nearDuplicates(s,
        cleanseCorpus(s, dir), threshold = 0.9, ledger = obs)
      val nPairs = pairs.count() // the action that lands the metrics
      val m = obs.get
      Seq((m.getOrElse("dropped_buckets", 0L).asInstanceOf[Long],
        m.getOrElse("dropped_rows", 0L).asInstanceOf[Long],
        nPairs))
        .toDF("dropped_buckets", "dropped_rows", "n_pairs")
    },

    "t_dedup_simhash" -> { (s, dir) =>
      import s.implicits._
      // corpus = documents + exact copies (hamming 0). Oracle: DuckDB
      // recomputes simhash64 exactly (FNV-1a + SplitMix64 in mod-2^64
      // HUGEINT arithmetic) and does the exhaustive hamming<=3 self-join
      val d = docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      val corpus = d.union(d.map { case (id, t) => (id + 1000000L, t) })
      graft.ops.SimHash.nearDuplicates(s, corpus)
    },

    "t_ann_cosine" -> { (s, dir) =>
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
      val queries = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      graft.ops.Ann.bruteForceTopK(s, corpus, queries, k = 3)
    },

    // embedding-space label QA: kNN label purity over a deterministic
    // probe sample — each probe's 5 nearest neighbors vote (majority,
    // ties -> smaller label) and per-label agreement counts + id sums
    // pin exactly which probes agree. Label noise shows up as low
    // purity (here ~chance: the synthetic labels are independent of
    // the vectors, and the oracle recomputes exactly that). The probe
    // sample keeps the brute-force broadcast bounded; the scale path
    // is the LSH/IVF siblings feeding the same vote.
    "t_knn_label" -> { (s, dir) =>
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val corpus = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
      val probes = emb.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val nn = graft.ops.Ann.knnTopK(s, corpus, probes, k = 5)
      val votes = nn
        .join(emb.select($"vec_id".as("id"), $"label".as("nlabel")),
          Seq("id"))
        .groupBy($"qid", $"nlabel").agg(count(lit(1)).as("c"))
      val pred = votes.groupBy($"qid")
        .agg(max_by($"nlabel",
          struct($"c", (-$"nlabel").cast("long"))).as("pred"))
      pred
        .join(emb.filter($"vec_id" % 25 === 0)
          .select($"vec_id".as("qid"), $"label".as("qlabel")), Seq("qid"))
        .groupBy($"qlabel".as("label"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when($"pred" === $"qlabel", 1L).otherwise(0L))
            .as("n_agree"),
          sum(when($"pred" === $"qlabel", $"qid").otherwise(0L))
            .as("agree_id_sum"))
    },

    // corpus = embeddings + 3 colinear twins per query vector; the
    // true top-3 of each query are its twins (cosine ~1.0 vs ~0.5 for
    // random 64-dim neighbors), so the DuckDB brute-force oracle
    // independently checks that the index recovers the exact top-k —
    // the regime approximate indexes are for (near neighbors)
    "t_ann_lsh" -> { (s, dir) =>
      import s.implicits._
      val (corpus, queries) = annTwinCorpus(s, dir)
      graft.ops.Ann.lshTopK(s, corpus, queries, k = 3, dim = 64)
        .select($"qid", $"id")
    },

    // same planted-twin gate over the IVF (spherical k-means) index —
    // the second scale path the brief names alongside LSH
    "t_ann_ivf" -> { (s, dir) =>
      import s.implicits._
      val (corpus, queries) = annTwinCorpus(s, dir)
      graft.ops.Ann.ivfTopK(s, corpus, queries, k = 3, dim = 64)
        .select($"qid", $"id")
    },

    // REDACT-1: PII scrubbing (emails / dotted-quad IPs / NNN-NNN-NNNN
    // phones -> typed placeholders); every 5th doc gets a deterministic
    // PII-rich suffix so both bands are exercised
    "t_redact" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id",
        graft.ops.TextStats.redactPII(
          when($"doc_id" % 5 === 0, concat($"text", lit(piiSuffix)))
            .otherwise($"text")).as("redacted"))
    },

    // repetition-quality signals (Gopher-style corpus filters).
    // repartition: the sf tables are single small parquet files -> one
    // scan task, which would serialize this CPU-bound expression on a
    // single core (at real scale the input has many splits and this
    // exchange is unnecessary — it exists to parallelize the
    // small-file case)
    "t_repetition" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          graft.ops.TextStats.topTokenRatio($"text").as("top_tok_ratio"),
          graft.ops.TextStats.dupBigramRatio($"text")
            .as("dup_bigram_ratio"))
    },

    // SAMPLE-1: reproducible ~10% corpus sample by md5 bucket — stable
    // across engines, partitionings and runs
    "t_sample" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.TextStats
      docs(s, dir)
        .filter(TextStats.sampled($"doc_id", "1a"))
        .select($"doc_id", TextStats.sampleBucket($"doc_id").as("bucket"))
    },

    "t_quality" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.TextStats._
      docs(s, dir).select($"doc_id",
        nTokens($"text").as("n_tokens"),
        stopwordRatio($"text").as("sw_ratio"),
        uniqTokenRatio($"text").as("uniq_ratio"),
        qualityScore($"text").as("quality"))
    },

    // LSHAPE-1 line-shape corpus filters (bullet / ellipsis / symbol
    // ratios); deterministic multi-line fixtures appended so every
    // branch fires regardless of the documents-table contents
    "t_line_shape" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.TextStats._
      val fixtures = s.createDataset(lineShapeFixtures)
        .toDF("doc_id", "text")
      docs(s, dir).select($"doc_id", $"text").union(fixtures)
        .select($"doc_id",
          bulletRatio($"text").as("bullet_ratio"),
          ellipsisRatio($"text").as("ellipsis_ratio"),
          symbolWordRatio($"text").as("symbol_ratio"))
    },

    "t_fingerprint" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id",
        graft.ops.TextStats.fingerprint($"text").as("fp"))
    },

    "q_robust_stats" -> { (s, dir) =>
      import s.implicits._
      // median + MAD (the reference's outlier rule,
      // page_resizing.py:64-84) as exact percentiles
      val l = tbl(s, dir, "lineitem")
      val med = l.groupBy($"l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))
      l.join(med, "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(round(first($"med"), 4).as("med"),
          round(expr("percentile(abs(l_quantity - med), 0.5)"), 4)
            .as("mad"))
    },

    "t_lang_id" -> { (s, dir) =>
      import s.implicits._
      // LANGID-4 (see ops/Lexicon.scala): script presence then
      // stopword-ratio argmax over en/de/fr/es/it/pt/nl; lex_hash pins
      // the exact dictionary contents into the correctness gate.
      // Deterministic fixture rows are appended so every branch (incl.
      // the v3 languages and all script classes) is exercised
      // regardless of the documents-table contents.
      // repartition: single-file scan would otherwise run this
      // CPU-bound classifier on one core (see t_repetition note)
      val fixtures = s.createDataset(langFixtures).toDF("doc_id", "text")
      docs(s, dir).select($"doc_id", $"text").union(fixtures)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id",
          graft.ops.Lexicon.langId($"text").as("lang_pred"),
          lit(graft.ops.Lexicon.collection.contentHash).as("lex_hash"))
    })

  /** LANGID-4 fixture turns appended by t_lang_id (mirrored into the
    * oracle as VALUES from this same list): two rows per stopword
    * language family plus each script class and an 'other'.
    */
  private val langFixtures: Seq[(Long, String)] = Seq(
    9000001L -> ("il gatto è sopra il tavolo e non vuole scendere " +
      "perché ha paura"),
    9000002L -> ("o menino foi para a escola com a sua mochila e não " +
      "voltou cedo"),
    9000003L -> ("de kinderen spelen in het park met een bal en zijn " +
      "erg blij"),
    9000004L -> ("la maison est grande et le jardin est plein de " +
      "fleurs pour nous"),
    9000005L -> ("der hund läuft durch den park und ist sehr " +
      "glücklich mit dem ball"),
    9000006L -> "el perro corre por el parque y es muy feliz con su pelota",
    9000007L -> "the cat is on the table and it does not want to come down",
    9000008L -> "これは日本語のテキストです",
    9000009L -> "한국어 텍스트입니다",
    9000010L -> "这是中文文本",
    9000011L -> "это русский текст для проверки",
    9000012L -> "xyzzy qwerty asdfgh",
    9000013L -> "هذا نص عربي للاختبار",
    9000014L -> "זהו טקסט בעברית לבדיקה",
    9000015L -> "αυτό είναι ελληνικό κείμενο",
    9000016L -> "यह परीक्षण के लिए हिंदी पाठ है",
    9000017L -> "นี่คือข้อความภาษาไทย")

  /** LSHAPE-1 fixture docs appended by t_line_shape (mirrored into the
    * oracle as VALUES from this same list): bullet pages, ellipsis
    * lines, hash/ellipsis symbol noise, and the empty string.
    */
  private val lineShapeFixtures: Seq[(Long, String)] = Seq(
    9100001L -> "- first bullet\n- second bullet\n- third bullet",
    9100002L -> ("intro line\n* starred item\n  • indented bullet\n" +
      "plain end"),
    9100003L -> "to be continued...\nand then…\nthe end",
    9100004L -> "# heading\nsome ### hashes and ... dots .....",
    9100005L -> "")

  /** Twin corpus shared by t_corpus_cleanse / t_cleanse_ledger (docs
    * plus one near-dup tail twin per doc).
    */
  private def cleanseCorpus(s: SparkSession, dir: String)
      : Dataset[(Long, String)] = {
    import s.implicits._
    // repartition: the sf tables are single small parquet files -> a
    // 2-partition union, which would serialize the signature pass AND
    // the downstream QUAL-1/LANGID-4/REDACT-1 gates (regex CPU per
    // doc) on two cores; at real scale the scan has many splits and
    // the flagship plans are unchanged in shape (the t_lang_id /
    // t_ngram_jaccard precedent)
    val d = docs(s, dir).select($"doc_id", $"text").as[(Long, String)]
    d.union(d.map { case (id, t) =>
      (id + 1000000L, t + " graft cluster tail one")
    }).repartition(s.sparkContext.defaultParallelism)
  }

  /** Media retrieval corpus shared by t_media_ann (brute force) and
    * t_media_ann_lsh (indexed): real container bytes -> MEDIA-2 decode
    * -> 8-band embeddings; queries are the byte-distinct content
    * twins. repartition: the sf tables are single small parquet files
    * -> one scan task, which would serialize the decode + scoring on
    * one core (see the t_repetition note); at real scale the input
    * has many splits.
    */
  private def mediaAnnCorpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val base = docs(s, dir).select($"doc_id")
      .repartition(s.sparkContext.defaultParallelism).as[Long]
      .map { id =>
        graft.ops.Multimodal.MediaRow(id, "binary",
          graft.ops.Multimodal.synthContentContainer(id))
      }
    val twins = docs(s, dir).select($"doc_id").as[Long]
      .filter(_ % 3 == 0)
      .map { id =>
        graft.ops.Multimodal.MediaRow(id + 5000000L, "binary",
          graft.ops.Multimodal.synthContentTwin(id))
      }
    val corpus = graft.ops.Multimodal.extractFeatures(s, base).toDF()
      .select($"media_id".as("id"), $"embedding".as("vec"))
    val queries = graft.ops.Multimodal.extractFeatures(s, twins).toDF()
      .select($"media_id".as("qid"), $"embedding".as("qvec"))
    (corpus, queries)
  }

  /** Planted-twin ANN corpus shared by t_ann_lsh / t_ann_ivf: base
    * embeddings plus 3 colinear twins per query vector.
    */
  private def annTwinCorpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = tbl(s, dir, "embeddings")
    val base = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val twins = emb.filter($"vec_id" < 8)
      .select($"vec_id", $"embedding",
        explode(array(lit(1), lit(2), lit(3))).as("sc"))
      .select(($"vec_id" * 10 + $"sc" + 1000000L).as("id"),
        transform($"embedding",
          x => x * (lit(1.0) + $"sc".cast("double") / 100.0)
            .cast("float")).as("vec"))
    (base.union(twins), queries)
  }

  /** Per-JVM scratch root: unique temp dir (concurrent driver runs
    * cannot clobber each other's staged corpora) removed by a shutdown
    * hook (a plain deleteOnExit cannot remove non-empty dirs). The hook
    * does not run on kill -9 / hard crash, so init also sweeps STALE
    * sibling roots (same prefix, older than 1 h — far beyond any
    * query's runtime) to bound the leak from crashed runs.
    */
  private lazy val scratchRoot: String = {
    val tmpRoot = new java.io.File(
      System.getProperty("java.io.tmpdir", "/tmp"))
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    Option(tmpRoot.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft-scratch") &&
        f.lastModified() < cutoff) deleteTree(f)
    })
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteTree(dir.toFile)))
    dir.toString
  }

  /** Scratch dir for one staged query, wiped at query start so re-runs
    * within a session start clean (the subdirs must outlive the query
    * builder — the returned DataFrame reads lazily — so full cleanup is
    * the JVM-exit hook plus `dropStreamStaging` for the input/checkpoint
    * halves).
    */
  private def scratchDir(name: String): String = {
    val dir = new java.io.File(s"$scratchRoot/$name")
    deleteTree(dir)
    dir.mkdirs()
    dir.toString
  }

  /** x_resume's comparison of the resumed output with the single-shot
    * output: (rows present on one side only, counted as except()'s
    * distinct-minus in both directions; resumed minus single-shot row
    * count). Set-difference counts come from ONE grouped pass over
    * presence flags (incl. null-safe grouping) instead of two except
    * jobs + two count jobs; the raw row delta rides a second cheap
    * aggregate over the same union. Sums over zero rows are NULL, so
    * both coalesce to 0: two empty outputs are a match, not an NPE.
    */
  private[graft] def resumeDiff(resumed: DataFrame, single: DataFrame)
      : (Long, Long) = {
    val cols = single.columns.toSeq
    val tagged = resumed.select(cols.map(col): _*)
      .withColumn("__a", lit(1L)).withColumn("__b", lit(0L))
      .unionByName(single
        .withColumn("__a", lit(0L)).withColumn("__b", lit(1L)))
    val totals = tagged
      .agg(coalesce(sum(col("__a")), lit(0L)).as("na"),
        coalesce(sum(col("__b")), lit(0L)).as("nb")).head
    val sides = tagged.groupBy(cols.map(col): _*)
      .agg(max(col("__a")).as("ia"), max(col("__b")).as("ib"))
      .agg(count(when(col("ia") === 1 && col("ib") === 0, 1))
        .as("only_res"),
        count(when(col("ib") === 1 && col("ia") === 0, 1))
          .as("only_single"))
      .head
    (sides.getLong(0) + sides.getLong(1),
      totals.getLong(0) - totals.getLong(1))
  }

  /** Delete the staged input + checkpoint (no longer needed once the
    * stream has terminated); the parquet sink stays for the lazy read.
    */
  private def dropStreamStaging(tmp: String): Unit = {
    deleteTree(new java.io.File(s"$tmp/in"))
    deleteTree(new java.io.File(s"$tmp/ckpt"))
  }

  /** Run a STATEFUL streaming query with a scale-adaptive shuffle/state
    * partition count derived from the staged input size, restoring the
    * session's shuffle partitions afterwards.
    *
    * Why (guide §2 — make partitioning scale-adaptive, not a constant):
    * AQE is disabled for stateful streaming, so the state-store count is
    * pinned to spark.sql.shuffle.partitions at the first micro-batch —
    * every partition then pays per-batch state-store snapshot/commit
    * I/O and a task, regardless of data volume. Sizing partitions as
    * ceil(input_bytes / targetBytes) clamped to [1, defaultParallelism]
    * gives a replay of a small staged corpus a handful of state stores
    * while a production-scale stream (input >> targetBytes x cores)
    * still gets full parallelism. Target bytes per partition:
    * SPARK_GRAFT_STREAM_TARGET_PART_BYTES (default 64 MiB, the shuffle-
    * partition sizing rule of guide §2.2).
    */
  private def withAdaptiveStreamPartitions[T](s: SparkSession,
      stagedInDir: String)(f: => T): T = {
    val targetBytes = sys.env
      .getOrElse("SPARK_GRAFT_STREAM_TARGET_PART_BYTES", "67108864").toLong
    def treeBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
      else f.length()
    val bytes = treeBytes(new java.io.File(stagedInDir))
    val target = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      (bytes + targetBytes - 1) / targetBytes)).toString
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", target)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Deterministic PII-rich suffix appended to every 5th doc by
    * t_redact (mirrored verbatim in the oracle SQL).
    */
  private val piiSuffix =
    " contact bob.smith+x@ex-ample.org or 10.0.42.7 or 555-123-4567 now"

  /** Shared expected-extraction oracle for the batch (x_transcripts)
    * and streaming (x_streaming) pipelines.
    */
  private lazy val transcriptsSql: String =
    "SELECT 'c' || (doc_id % 100) AS conv_id, " +
      "(doc_id // 100)::INT AS turn_idx, " +
      s"$docKindSql AS extractor, $docExtractedSql AS extracted " +
      "FROM documents"

  /** Shared oracle for the planted-twin ANN queries: exact brute-force
    * top-3 over the twin corpus — both the LSH and IVF indexes must
    * recover it.
    */
  private val annTwinTopKSql: String =
    "WITH twins AS (SELECT vec_id * 10 + s + 1000000 AS id, " +
      "list_transform(embedding, x -> x * (1.0 + s/100.0)::FLOAT) " +
      "AS vec FROM embeddings CROSS JOIN " +
      "(SELECT unnest([1,2,3]) AS s) sc WHERE vec_id < 8), " +
      "corpus AS (SELECT vec_id AS id, embedding AS vec " +
      "FROM embeddings UNION ALL SELECT id, vec FROM twins), " +
      "q AS (SELECT vec_id AS qid, embedding AS qvec " +
      "FROM embeddings WHERE vec_id < 8), " +
      "scored AS (SELECT q.qid, c.id, " +
      "list_cosine_similarity(q.qvec, c.vec) AS sim " +
      "FROM corpus c, q WHERE c.id <> q.qid) " +
      "SELECT qid, id FROM (SELECT qid, id, row_number() OVER " +
      "(PARTITION BY qid ORDER BY sim DESC, id ASC) AS rank " +
      "FROM scored) WHERE rank <= 3"

  /** QUAL-1 quality formula over a text column (DuckDB fragment) —
    * mirrors TextStats.qualityScore exactly; shared by every oracle
    * that scores quality.
    */
  private def qualSql(c: String): String =
    s"(CASE WHEN len(string_split($c, ' ')) BETWEEN 20 AND " +
      s"1000 THEN 0.4 WHEN len(string_split($c, ' ')) >= 5 " +
      "THEN 0.2 ELSE 0.0 END) + (CASE WHEN " +
      s"len(list_filter(string_split($c, ' '), x -> x IN " +
      "('the','a','of','and','to','in','is','it'))) * 1.0 / " +
      s"len(string_split($c, ' ')) BETWEEN 0.01 AND 0.4 " +
      "THEN 0.3 ELSE 0.0 END) + (CASE WHEN " +
      s"len(list_distinct(string_split($c, ' '))) * 1.0 / " +
      s"len(string_split($c, ' ')) >= 0.3 THEN 0.3 WHEN " +
      s"len(list_distinct(string_split($c, ' '))) * 1.0 / " +
      s"len(string_split($c, ' ')) >= 0.1 THEN 0.1 ELSE 0.0 " +
      "END)"

  /** REDACT-1 scrub chain over a text column (DuckDB fragment). */
  private def redactSql(c: String): String =
    "regexp_replace(regexp_replace(regexp_replace(" +
      s"$c, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', " +
      "'<EMAIL>', 'g'), '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', " +
      "'g'), '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g')"

  /** Shared oracle for the composed pipeline (hard-wired and
    * config-assembled variants must both reproduce it).
    */
  private val pipelineE2eSql: String =
    "WITH exp AS (SELECT 'c' || (doc_id % 100) AS conv_id, " +
      "(doc_id // 100)::INT AS turn_idx, " +
      s"$docKindSql AS extractor, $docExtractedSql AS extracted " +
      "FROM documents), " +
      "q AS (SELECT conv_id, turn_idx, extractor, extracted, " +
      s"${qualSql("extracted")} AS quality FROM exp " +
      "WHERE extracted <> ''), " +
      "d AS (SELECT *, row_number() OVER (PARTITION BY md5(extracted) " +
      "ORDER BY conv_id, turn_idx) AS dup_rank FROM q) " +
      "SELECT extractor, count(*) AS kept, " +
      "sum(round(quality * 10)::BIGINT)::BIGINT AS sum_q10 FROM d " +
      "WHERE dup_rank = 1 AND quality >= 0.5 GROUP BY 1"

  // ---- oracle SQL (DuckDB dialect, same parquet tables) -----------------

  def oracleSql: Map[String, String] = Map(
    "x_plain_docs" ->
      "SELECT doc_id, text AS extracted FROM documents",

    "x_html_docs" ->
      ("SELECT doc_id, 'html' AS extractor, text AS extracted " +
        "FROM documents WHERE len(string_split(text, ' ')) > 16"),

    "x_pdf_docs" ->
      (s"SELECT doc_id, 'pdf' AS extractor, $pdfTextSql AS extracted " +
        "FROM documents"),

    // MD-1 expected output recomputed from the raw doc text: heading
    // and item markers gone, emphasis asterisks gone from the
    // paragraph, code fence content verbatim (asterisks kept)
    "x_md_docs" ->
      ("SELECT doc_id, 'md' AS extractor, " +
        "'Heading ' || ws[1] || chr(10) || replace(text, '*', '') || " +
        "chr(10) || 'item ' || ws[2] || chr(10) || ws[3] || chr(10) || " +
        "'code *' || ws[1] || '* stays' AS extracted " +
        "FROM (SELECT doc_id, text, string_split(text, ' ') AS ws " +
        "FROM documents) " +
        "WHERE len(list_filter(ws, x -> x <> '')) >= 3"),

    "x_transcripts" -> transcriptsSql,

    // streaming path must land the identical extraction
    "x_streaming" -> transcriptsSql,

    // streaming WITH duplicates + stateful dedupe must land it too
    "x_streaming_dedupe" -> transcriptsSql,

    // the JSONL ingestion path must land it too
    "x_jsonl_source" -> transcriptsSql,

    // and the CSV ingestion path
    "x_csv_source" -> transcriptsSql,

    "x_orc_source" -> transcriptsSql,

    // the quarantine path must preserve every VALID turn byte-exactly
    // (garbage rejection is gated by the in-query require)
    "x_jsonl_quarantine" -> transcriptsSql,

    // custom-state streaming sessionization must reproduce the batch
    // sessionization oracle exactly (same gap rule, same ordering)
    "x_streaming_sessions" ->
      ("SELECT user_id, sum(gap)::BIGINT AS n_sessions, " +
        "count(*) AS n_events " +
        "FROM (SELECT user_id, CASE WHEN prev_ts IS NULL THEN 1 " +
        "WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS gap " +
        "FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS prev_ts, event_id FROM events)) " +
        "GROUP BY 1"),

    // batch mirror of the streaming windowed rollup: docTurns stamps
    // doc_id as epoch second 86400 + doc_id, so the 1-minute window
    // start is the epoch floor; extraction errors are zero on the
    // synthetic corpus (x_lineage gates that independently)
    "x_streaming_stats" ->
      ("SELECT 'c' || (doc_id % 100) AS conv_id, " +
        "((86400 + doc_id) // 60) * 60 AS w_start, " +
        "count(*) AS n_turns, 0::BIGINT AS n_errors " +
        "FROM documents GROUP BY 1, 2"),

    // batch mirror of the streaming interval join
    "x_streaming_join" ->
      ("SELECT p.event_id AS purchase_id, v.event_id AS view_id, " +
        "p.user_id FROM events p JOIN events v " +
        "ON p.user_id = v.user_id AND p.event_type = 'purchase' " +
        "AND v.event_type = 'view' " +
        "AND v.ts >= p.ts - INTERVAL 21600 SECOND AND v.ts <= p.ts"),

    // mirror of Multimodal.decodeStub: FNV-1a over the payload bytes
    // (ASCII text -> same as chars) in mod-2^64 HUGEINT arithmetic,
    // then the stub's width/height/frames/hash derivations
    "t_multimodal" ->
      ("WITH fnv AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN " +
        "'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END " +
        "AS kind, length(text)::BIGINT AS n_bytes, " +
        "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(string_split(text, ''), " +
        "c -> ascii(c)::HUGEINT)), (acc, c) -> (xor(acc, c) * " +
        "1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) " +
        "AS h FROM documents), " +
        "sg AS (SELECT *, CASE WHEN h >= 9223372036854775808::HUGEINT " +
        "THEN h - 18446744073709551616::HUGEINT ELSE h END AS sh " +
        "FROM fnv) " +
        "SELECT doc_id AS media_id, kind, n_bytes, " +
        "(64 + abs(sh) % 1024)::INT AS width, " +
        "(64 + (h >> 17) % 1024)::INT AS height, " +
        "(CASE WHEN kind = 'video' THEN 1 + (h >> 29) % 300 " +
        "WHEN kind = 'audio' THEN 1 + (h >> 23) % 10000 " +
        "ELSE 1 END)::INT AS n_frames, " +
        "sh::BIGINT AS content_hash FROM sg"),

    // the synthesis formulas of Multimodal.synthDims/synthContainer,
    // recomputed independently — the Spark side must recover them from
    // the container BYTES alone
    "t_media_headers" -> mediaHeadersOracleSql,

    // the streaming arrival of the same containers must land the
    // identical header metadata exactly once
    "x_streaming_media" -> mediaHeadersOracleSql,

    "t_media_content" -> mediaContentOracleSql,

    // MEDIA-4: the same pixel formulas recomputed — Spark must get
    // there through chunk CRCs, inflate and the five PNG filters
    "t_media_png" -> pngContentOracleSql,

    // MEDIA-5: the same pixel formulas recomputed — Spark must get
    // there through the block walk, LZW and the palette
    "t_media_gif" -> gifContentOracleSql,

    // MEDIA-6: the flat-tile formulas recomputed — Spark must get
    // there through markers, Huffman, dequant and the IDCT
    "t_media_jpeg" -> jpegContentOracleSql,

    // MEDIA-7: identical formulas — the progressive scan script must
    // reconstruct the same coefficients the baseline file carries
    "t_media_jpeg_prog" -> jpegContentOracleSql,

    // the planted BMP/JPEG pairing IS the expectation: a DCT container
    // of the same pixels must land the identical content hash
    "t_media_jpeg_cross" ->
      ("SELECT doc_id AS bmp_id, doc_id + 9000000 AS jpeg_id " +
        "FROM documents"),

    // the planted cross-format tripling IS the expectation: transcode
    // must preserve content identity, byte identity be damned
    "t_media_cross" ->
      ("SELECT doc_id AS bmp_id, doc_id + 7000000 AS png_id, " +
        "doc_id + 8000000 AS gif_id " +
        "FROM documents WHERE doc_id % 2 = 0"),

    // the planted construction IS the expected retrieval: twin id+5e6
    // pairs with base id (content-identical embeddings, cosine 1.0 —
    // strictly above any non-identical 8-band integer vector)
    "t_media_ann" ->
      ("SELECT doc_id + 5000000 AS qid, doc_id AS id FROM documents " +
        "WHERE doc_id % 3 = 0"),

    // the indexed path must recover the identical planted mapping
    "t_media_ann_lsh" ->
      ("SELECT doc_id + 5000000 AS qid, doc_id AS id FROM documents " +
        "WHERE doc_id % 3 = 0"),

    "t_media_dedup" -> mediaDedupOracleSql,

    // config assembly must land the hand-written product exactly
    "x_config_media" -> mediaDedupOracleSql,

    // the content-addressed ledger: every planted copy family (base +
    // byte-distinct twin + PNG/GIF transcodes) collapses onto one
    // hash with the canonical keeper and the exact redundancy count
    "t_media_cleanse" ->
      (s"WITH $mediaHashCtes, " +
        "allm AS (SELECT doc_id AS media_id, hh FROM mc " +
        "UNION ALL SELECT doc_id + 5000000, hh FROM mc " +
        "WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id + 7000000, hh FROM mc " +
        "WHERE doc_id % 2 = 0 " +
        "UNION ALL SELECT doc_id + 8000000, hh FROM mc " +
        "WHERE doc_id % 6 = 0) " +
        "SELECT " + toSigned("hh") + " AS content_hash, " +
        "min(media_id) AS keeper_id, count(*) AS n_copies " +
        "FROM allm GROUP BY hh"),

    // conversation reassembly + exact jaccard + recursive transitive
    // closure, all in SQL: keepers are cluster minima
    "t_dedup_conv" ->
      ("WITH RECURSIVE conv AS (SELECT doc_id // 4 AS id, " +
        "string_agg(text, ' ' ORDER BY doc_id) AS text " +
        "FROM documents GROUP BY 1), " +
        "corpus AS (SELECT id, text FROM conv " +
        "UNION ALL SELECT id + 1000000, " +
        "text || ' graft conv tail one' FROM conv), " +
        "tk AS (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "sh AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM (SELECT id, " +
        "ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM tk)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.9), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs " +
        "UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT id AS src, id AS dst FROM corpus " +
        "UNION SELECT r.src, e.b FROM reach r JOIN edges e " +
        "ON r.dst = e.a), " +
        "keep AS (SELECT src AS id FROM reach GROUP BY src " +
        "HAVING src = min(dst)) " +
        "SELECT c.id, c.id IN (SELECT id FROM keep) AS is_keeper " +
        "FROM corpus c"),

    // the full line-dedup chain in SQL: 8-word reflow + planted
    // header/footer lines, per-line DISTINCT-doc counts, >= 3
    // threshold, ordered survivor reassembly hashed — md5('') when a
    // doc loses every line
    "t_dedup_lines" ->
      ("WITH toks AS (SELECT doc_id, " +
        "list_filter(string_split(text, ' '), x -> x <> '') AS ws " +
        "FROM documents), " +
        "b AS (SELECT doc_id, " +
        "list_transform(generate_series(1, ((len(ws) + 7) // 8)::INT), " +
        "i -> array_to_string(ws[(i-1)*8+1 : i*8], ' ')) AS body " +
        "FROM toks WHERE len(ws) >= 1), " +
        "d2 AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 3 = 0 THEN " +
        "['subscribe to our newsletter today'] " +
        "ELSE []::VARCHAR[] END) || body || " +
        "(CASE WHEN doc_id % 5 = 0 THEN " +
        "['copyright two thousand all rights reserved'] " +
        "ELSE []::VARCHAR[] END) AS lines FROM b), " +
        "lns AS (SELECT doc_id, i AS pos, lines[i] AS line FROM " +
        "(SELECT doc_id, lines, " +
        "unnest(generate_series(1, len(lines))) AS i FROM d2)), " +
        "freq AS (SELECT line FROM (SELECT line, " +
        "count(DISTINCT doc_id) AS nd FROM lns GROUP BY 1) " +
        "WHERE nd >= 3), " +
        "kept AS (SELECT doc_id, pos, line FROM lns " +
        "WHERE line NOT IN (SELECT line FROM freq)), " +
        "ka AS (SELECT doc_id, count(*) AS n_kept, " +
        "md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_hash " +
        "FROM kept GROUP BY 1), " +
        "tot AS (SELECT doc_id, count(*) AS n_lines FROM lns " +
        "GROUP BY 1) " +
        "SELECT tot.doc_id, tot.n_lines::BIGINT AS n_lines, " +
        "(tot.n_lines - coalesce(ka.n_kept, 0))::BIGINT AS n_removed, " +
        "coalesce(ka.kept_hash, md5('')) AS text_hash " +
        "FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id"),

    // the full ExactSubstr chain in SQL: 12-token plant on every 4th
    // doc, SUBSTR-1 window fingerprints refolded directly per window
    // (mathematically identical mod p to the Spark side's O(n) rolling
    // update: char fold base 31, window fold base 1000003, dual primes
    // 1e9+7 / 998244353, combined h1*2^31+h2 — all within BIGINT),
    // total-occurrence >= 2 threshold, token-level coverage (BETWEEN
    // join), ordered survivor reassembly
    "t_dedup_substr" ->
      ("WITH toks AS (SELECT doc_id, " +
        "list_filter(string_split(text, ' '), x -> x <> '') AS ws0 " +
        "FROM documents), " +
        "p AS (SELECT doc_id, ws0 || " +
        "(CASE WHEN doc_id % 4 = 0 THEN " +
        "['the','quick','brown','fox','jumps','over'," +
        "'the','lazy','dog','again','and','again'] " +
        "ELSE []::VARCHAR[] END) AS ws " +
        "FROM toks WHERE len(ws0) >= 1), " +
        "p2 AS (SELECT doc_id, ws, " +
        "list_transform(ws, t -> list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), " +
        "(a, c) -> (a * 31 + c) % 1000000007)) AS th1, " +
        "list_transform(ws, t -> list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), " +
        "(a, c) -> (a * 31 + c) % 998244353)) AS th2 FROM p), " +
        "win AS (SELECT doc_id, i, " +
        "list_reduce(list_prepend(0::BIGINT, th1[i : i+5]), " +
        "(a, t) -> (a * 1000003 + t) % 1000000007) * 2147483648 + " +
        "list_reduce(list_prepend(0::BIGINT, th2[i : i+5]), " +
        "(a, t) -> (a * 1000003 + t) % 998244353) AS h FROM " +
        "(SELECT doc_id, th1, th2, " +
        "unnest(generate_series(1, len(ws) - 5)) AS i " +
        "FROM p2 WHERE len(ws) >= 6)), " +
        "dup AS (SELECT h FROM " +
        "(SELECT h, count(*) AS c FROM win GROUP BY 1) WHERE c >= 2), " +
        "st AS (SELECT doc_id, i FROM win " +
        "WHERE h IN (SELECT h FROM dup)), " +
        "tk AS (SELECT doc_id, j, ws[j] AS tok FROM " +
        "(SELECT doc_id, ws, " +
        "unnest(generate_series(1, len(ws))) AS j FROM p)), " +
        "rm AS (SELECT DISTINCT t.doc_id, t.j FROM tk t " +
        "JOIN st s ON t.doc_id = s.doc_id " +
        "AND t.j BETWEEN s.i AND s.i + 5), " +
        "kept AS (SELECT t.doc_id, t.j, t.tok FROM tk t " +
        "LEFT JOIN rm r ON t.doc_id = r.doc_id AND t.j = r.j " +
        "WHERE r.j IS NULL), " +
        "ka AS (SELECT doc_id, count(*) AS n_kept, " +
        "md5(string_agg(tok, ' ' ORDER BY j)) AS kept_hash " +
        "FROM kept GROUP BY 1), " +
        "tot AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM p) " +
        "SELECT tot.doc_id, tot.n_tokens, " +
        "(tot.n_tokens - coalesce(ka.n_kept, 0))::BIGINT AS n_removed, " +
        "coalesce(ka.kept_hash, md5('')) AS text_hash " +
        "FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id"),

    // URL-1 mirrored step for step: same split_part chain, same
    // tracking-param filter, same default-port rule
    "t_url_normalize" ->
      ("WITH u AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 5 = 0 THEN 'HTTP://EXAMPLE.com:80/Path/' || " +
        "doc_id || '?utm_source=feed&id=' || doc_id || '#frag' " +
        "WHEN doc_id % 5 = 1 THEN " +
        "'https://Sub.Example.COM:443/a/b?gclid=xyz' " +
        "WHEN doc_id % 5 = 2 THEN 'http://example.org:8080/x?id=' || " +
        "doc_id || '&utm_campaign=c&q=term' " +
        "WHEN doc_id % 5 = 3 THEN 'HTTPS://CDN.example.net/asset/' || " +
        "doc_id " +
        "ELSE 'http://example.com/?fbclid=1&keep=2#x' END AS url " +
        "FROM documents), " +
        "s1 AS (SELECT doc_id, split_part(url, '#', 1) AS nofrag " +
        "FROM u), " +
        "s2 AS (SELECT *, split_part(nofrag, '?', 1) AS preq, " +
        "CASE WHEN strpos(nofrag, '?') > 0 THEN " +
        "substr(nofrag, strpos(nofrag, '?') + 1) ELSE '' END AS query " +
        "FROM s1), " +
        "s3 AS (SELECT *, lower(split_part(preq, '://', 1)) AS scheme, " +
        "substr(preq, length(split_part(preq, '://', 1)) + 4) AS rest " +
        "FROM s2), " +
        "s4 AS (SELECT *, split_part(rest, '/', 1) AS hostport, " +
        "substr(rest, length(split_part(rest, '/', 1)) + 1) AS path " +
        "FROM s3), " +
        "s5 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host, " +
        "CASE WHEN strpos(hostport, ':') > 0 THEN " +
        "split_part(hostport, ':', 2) ELSE '' END AS port FROM s4), " +
        "s6 AS (SELECT *, array_to_string(list_filter(" +
        "string_split(query, '&'), p -> p <> '' AND " +
        "NOT starts_with(p, 'utm_') AND " +
        "split_part(p, '=', 1) NOT IN ('fbclid', 'gclid')), '&') AS q2 " +
        "FROM s5) " +
        "SELECT doc_id, host, scheme || '://' || host || " +
        "(CASE WHEN port <> '' AND NOT ((scheme = 'http' AND " +
        "port = '80') OR (scheme = 'https' AND port = '443')) " +
        "THEN ':' || port ELSE '' END) || path || " +
        "(CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS url_norm " +
        "FROM s6"),

    // the same synthesized second snapshot + full-outer hash compare
    "t_snapshot_diff" ->
      ("WITH oldd AS (SELECT doc_id, md5(text) AS h FROM documents), " +
        "newd AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 " +
        "THEN text || ' amended' ELSE text END) AS h FROM documents " +
        "WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 7000000, md5(text) FROM documents " +
        "WHERE doc_id % 13 = 0) " +
        "SELECT doc_id, status FROM (" +
        "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.h <> n.h THEN 'modified' ELSE 'unchanged' END AS status " +
        "FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id) " +
        "WHERE status <> 'unchanged'"),

    // the resume contract as literals: 4 new files per increment, 0 on
    // replay, 8 manifest files over 2 committed runs, zero row diff
    // between the resumed union and the single-shot run, orphan
    // directory invisible
    "x_resume" ->
      ("SELECT 4::INT AS files_run1, 4::INT AS files_run2, " +
        "0::INT AS files_replay, 8::INT AS manifest_files, " +
        "2::INT AS committed_runs, 0::BIGINT AS diff_count, " +
        "0::BIGINT AS row_delta"),

    // mirrors frameSample(every=2, maxFrames=8, target=64) over the
    // synthesis formulas: per media, indices 0,2,... below the frame
    // count (first 8), dims scaled into a 64-box by integer division
    "t_frame_sample" ->
      ("WITH m AS (SELECT doc_id AS media_id, " +
        "(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 16 + (doc_id * 7) % 509 " +
        "END) AS w, " +
        "(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 16 + (doc_id * 13) % 509 " +
        "END) AS h, " +
        "(CASE WHEN doc_id % 5 = 4 THEN 100 + doc_id % 1000 " +
        "WHEN doc_id % 5 = 1 THEN 1 + doc_id % 5 ELSE 1 END) AS nf " +
        "FROM documents), " +
        "r AS (SELECT media_id, " +
        "CASE WHEN greatest(w, h) <= 0 THEN 0 " +
        "ELSE (w * 64) // greatest(w, h) END AS rw, " +
        "CASE WHEN greatest(w, h) <= 0 THEN 0 " +
        "ELSE (h * 64) // greatest(w, h) END AS rh, " +
        "(generate_series(0, (nf - 1)::BIGINT, 2))[1:8] AS idxs FROM m) " +
        "SELECT media_id, unnest(idxs)::INT AS frame_idx, " +
        "rw::INT AS rw, rh::INT AS rh FROM r"),

    "x_pipeline_e2e" -> pipelineE2eSql,

    // config-assembled pipeline must reproduce the identical rollup
    "x_config_pipeline" -> pipelineE2eSql,

    "x_lineage" ->
      ("SELECT (SELECT count(*) FROM documents) + (SELECT count(*) " +
        "FROM documents WHERE doc_id % 10 = 0) AS rows_in, " +
        "(SELECT count(*) FROM documents) AS rows_out, " +
        "0::BIGINT AS errors, true AS one_row_per_partition"),

    "x_tool_docs" ->
      ("SELECT doc_id, 'tool' AS extractor, text AS extracted " +
        "FROM documents"),

    "x_collate" ->
      ("SELECT doc_id, CASE WHEN len(string_split(text, ' ')) > 16 " +
        "THEN 'html' ELSE 'plain_fallback' END AS extractor, " +
        "CASE WHEN len(string_split(text, ' ')) > 16 THEN text " +
        s"ELSE '$htmlFramePrefix' || text || '$htmlFrameSuffix' END " +
        "AS extracted FROM documents"),

    "q_agg_fold" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(sum(l_quantity), 2) AS sum_qty, " +
        "round(min(l_extendedprice), 2) AS min_price, " +
        "round(max(l_extendedprice), 2) AS max_price, " +
        "count(*) AS n FROM lineitem GROUP BY 1, 2"),

    "q_window_order" ->
      ("SELECT user_id, rn, event_id FROM (SELECT user_id, event_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS rn FROM events) WHERE rn <= 3"),

    "q_dedupe_rownum" ->
      ("SELECT user_id, event_type, event_id FROM (SELECT user_id, " +
        "event_type, event_id, row_number() OVER (PARTITION BY user_id, " +
        "event_type ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1"),

    "q_interval_join" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
        "round(sum(l_extendedprice), 2) AS rev FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate " +
        "AND l_shipdate <= o_orderdate + INTERVAL 30 DAY GROUP BY 1"),

    "q_semi_join" ->
      ("SELECT c_mktsegment, count(*) AS n FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY 1"),

    "q_anti_join" ->
      ("SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),

    "q_broadcast_join" ->
      ("SELECT r_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1"),

    "q_set_ops" ->
      ("SELECT DISTINCT l_partkey AS k FROM lineitem EXCEPT " +
        "SELECT DISTINCT p_partkey AS k FROM part WHERE p_size > 25"),

    "q_topk" ->
      ("SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),

    "q_sessionize" ->
      ("SELECT user_id, sum(gap)::BIGINT AS n_sessions, " +
        "count(*) AS n_events " +
        "FROM (SELECT user_id, CASE WHEN prev_ts IS NULL THEN 1 " +
        "WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS gap " +
        "FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS prev_ts, event_id FROM events)) " +
        "GROUP BY 1"),

    // gap-rule mirror of session_window: break when the gap is >= 30
    // minutes (half-open [ts, ts+gap) windows), session start = first
    // event's ts, floored to epoch seconds like unix_timestamp
    "q_session_window" ->
      ("WITH m AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN prev_ts IS NULL " +
        "OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END " +
        "AS brk FROM (SELECT user_id, ts, event_id, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS prev_ts FROM events)), " +
        "sid AS (SELECT user_id, ts, sum(brk) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, floor(epoch(min(ts)))::BIGINT AS w_start, " +
        "count(*) AS n_events FROM sid GROUP BY user_id, sid.sid"),

    "q_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus)"),

    "q_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total FROM orders " +
        "GROUP BY CUBE (o_orderstatus, o_orderpriority)"),

    // conditional aggregation: the pivot must equal the long-form
    "q_pivot" ->
      ("SELECT user_id, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)" +
        "::BIGINT AS click, " +
        "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)" +
        "::BIGINT AS \"view\", " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)" +
        "::BIGINT AS purchase, " +
        "sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)" +
        "::BIGINT AS signup, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)" +
        "::BIGINT AS error " +
        "FROM events GROUP BY 1"),

    // same integer-only histogram-quantile selection
    "t_quantile_hist" ->
      ("WITH b AS (SELECT event_type, floor(value)::BIGINT AS bin, " +
        "count(*) AS c FROM events GROUP BY 1, 2), " +
        "cw AS (SELECT event_type, bin, c, " +
        "sum(c) OVER (PARTITION BY event_type ORDER BY bin " +
        "ROWS UNBOUNDED PRECEDING) AS cum, " +
        "sum(c) OVER (PARTITION BY event_type) AS total FROM b) " +
        "SELECT event_type, " +
        "min(CASE WHEN cum * 2 >= total THEN bin END)::BIGINT " +
        "AS p50_bin, " +
        "min(CASE WHEN cum * 20 >= total * 19 THEN bin END)::BIGINT " +
        "AS p95_bin, max(total)::BIGINT AS n FROM cw GROUP BY 1"),

    // independent algorithm on the oracle side: DuckDB's native ASOF
    // JOIN vs Spark's union+sorted-window implementation. Null-ts
    // caveat: events.ts is non-null at every SF; on a corpus with
    // null timestamps the two would diverge by design (AsofJoin DROPS
    // null-ts left rows — as-of is undefined without an event time —
    // while ASOF LEFT JOIN would retain them with a NULL match)
    "q_asof_join" ->
      ("SELECT p.event_id AS purchase_id, p.user_id, " +
        "v.event_id AS asof_view_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN " +
        "(SELECT * FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id AND p.ts >= v.ts"),

    // direct aggregate over the raw table: the partitioned write +
    // pruned read-back must be lossless
    "x_partitioned_sink" ->
      ("SELECT lang, source, count(*) AS n, " +
        "sum(n_chars)::BIGINT AS chars FROM documents " +
        "WHERE lang IN ('en', 'zh') GROUP BY 1, 2"),

    // plain (unsalted) join: salting must not change results
    "q_skew_salted" ->
      ("SELECT c_mktsegment, count(*) AS n, " +
        "sum(floor(value * 100)::BIGINT)::BIGINT AS cents " +
        "FROM events JOIN (SELECT * FROM customer WHERE c_custkey < 150) " +
        "ON (CASE WHEN user_id < 100 THEN 0 ELSE user_id END) " +
        "= c_custkey GROUP BY 1"),

    "t_sample_stratified" ->
      ("SELECT lang, rn, doc_id FROM (SELECT lang, doc_id, " +
        "row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(text), doc_id) AS rn FROM documents) " +
        "WHERE rn <= 10"),

    "t_top_ngrams" ->
      ("WITH toks AS (SELECT lang, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents), " +
        "bg AS (SELECT lang, ws[i] || ' ' || ws[i+1] AS bg FROM " +
        "(SELECT lang, ws, unnest(generate_series(1, len(ws) - 1)) AS i " +
        "FROM toks WHERE len(ws) >= 2)), " +
        "cells AS (SELECT lang, bg, count(*) AS c FROM bg GROUP BY 1, 2) " +
        "SELECT lang, rn, bg, c::BIGINT AS c FROM " +
        "(SELECT lang, bg, c, row_number() OVER (PARTITION BY lang " +
        "ORDER BY c DESC, bg) AS rn FROM cells) WHERE rn <= 5"),

    // exact HUGEINT mirror of the KMV sketch: same mix64 chain, same
    // k-th-smallest selection, same integer floor-division estimator
    "t_kmv_distinct" ->
      ("WITH h0 AS (SELECT DISTINCT l_returnflag AS grp, " +
        graft.functions.KmvDistinct.mix64Sql("l_partkey") +
        " AS h FROM lineitem), " +
        "rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp " +
        "ORDER BY h) AS r FROM h0), " +
        "st AS (SELECT grp, count(*) AS nd, " +
        "max(CASE WHEN r = 256 THEN h END) AS kth FROM rk GROUP BY 1), " +
        "ex AS (SELECT l_returnflag AS grp, " +
        "count(DISTINCT l_partkey) AS exact_distinct " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT st.grp AS l_returnflag, " +
        "(CASE WHEN nd < 256 THEN nd::HUGEINT " +
        "ELSE least((255::HUGEINT * 18446744073709551616::HUGEINT) " +
        "// kth, 9223372036854775807::HUGEINT) " +
        "END)::BIGINT AS est_distinct, " +
        "ex.exact_distinct::BIGINT AS exact_distinct " +
        "FROM st JOIN ex ON st.grp = ex.grp"),

    // merging stored per-slice sketches must equal the direct sketch
    // of the union — the same estimator CTE as t_kmv_distinct
    "t_kmv_merge" ->
      ("WITH h0 AS (SELECT DISTINCT l_returnflag AS grp, " +
        graft.functions.KmvDistinct.mix64Sql("l_partkey") +
        " AS h FROM lineitem), " +
        "rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp " +
        "ORDER BY h) AS r FROM h0), " +
        "st AS (SELECT grp, count(*) AS nd, " +
        "max(CASE WHEN r = 256 THEN h END) AS kth FROM rk GROUP BY 1) " +
        "SELECT grp AS l_returnflag, " +
        "(CASE WHEN nd < 256 THEN nd::HUGEINT " +
        "ELSE least((255::HUGEINT * 18446744073709551616::HUGEINT) " +
        "// kth, 9223372036854775807::HUGEINT) " +
        "END)::BIGINT AS est_distinct FROM st"),

    "t_tokens" ->
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
        "length(text) AS n_chars FROM documents"),

    "t_bpe_tokens" -> bpeTokensOracleSql,

    "t_dedup_exact" ->
      ("SELECT doc_id, md5(text) AS h, " +
        "count(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup " +
        "FROM documents"),

    "t_dedup_minhash" ->
      ("WITH corpus AS (SELECT doc_id AS id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, " +
        "text || ' graft dedup tail marker' FROM documents), " +
        "toks AS (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "sh AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM (SELECT id, " +
        "ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM toks)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, " +
        "round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard " +
        "FROM inter JOIN cnt ca ON ca.id = id_a " +
        "JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8"),

    // exhaustive inter-set exact jaccard: every (old, new) pair at or
    // above threshold — the incremental engine must recover them all
    // from the persisted index alone
    "t_dedup_incremental" ->
      ("WITH olds AS (SELECT doc_id AS id, text FROM documents), " +
        "news AS (SELECT doc_id + 1000000 AS id, " +
        "text || ' graft dedup tail marker' AS text FROM documents), " +
        "sho AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM " +
        "(SELECT id, ws, unnest(generate_series(1, len(ws) - 2)) AS i " +
        "FROM (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM olds))), " +
        "shn AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM " +
        "(SELECT id, ws, unnest(generate_series(1, len(ws) - 2)) AS i " +
        "FROM (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM news))), " +
        "cnto AS (SELECT id, count(*) AS n FROM sho GROUP BY 1), " +
        "cntn AS (SELECT id, count(*) AS n FROM shn GROUP BY 1), " +
        "inter AS (SELECT a.id AS old_id, b.id AS new_id, " +
        "count(*) AS i FROM sho a JOIN shn b USING (s) GROUP BY 1, 2) " +
        "SELECT old_id, new_id, " +
        "round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard " +
        "FROM inter JOIN cnto ca ON ca.id = old_id " +
        "JOIN cntn cb ON cb.id = new_id " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8"),

    // the WINNOW-1 chain recomputed exhaustively: per-position k-gram
    // fold hashes, forward window minima (single-window short docs),
    // fp-cap, containment = shared / min sizes — all deterministic
    "t_containment" -> containmentOracleSql("a.id < b.id"),

    // same WINNOW-1 chain over the identical union corpus — only the
    // pair predicate differs: the incremental engine can form ONLY
    // inter-set (history, new) pairs, never intra-set ones
    "t_containment_incremental" ->
      containmentOracleSql("a.id < 2000000 AND b.id >= 2000000"),

    "t_decontaminate" -> decontaminateOracleSql,
    "t_bloom_decontaminate" -> bloomDecontaminateOracleSql,
    "x_streaming_decontam" -> bloomDecontaminateOracleSql,
    "t_bloom_merge" -> bloomMergeOracleSql,

    // 1 chunk when n <= 32, else 1 + ceil((n-32)/24) — pure integer
    // arithmetic; DuckDB list slice ws[a:b] is 1-based inclusive ==
    // Spark slice(ws, a, 32)
    "t_chunk" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents), " +
        "c AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 32 THEN 1 " +
        "ELSE (len(ws) - 32 + 24 - 1) // 24 + 1 END AS nc " +
        "FROM toks WHERE len(ws) >= 1), " +
        "e AS (SELECT doc_id, ws, " +
        "unnest(generate_series(0, (nc - 1)::BIGINT)) AS chunk_idx " +
        "FROM c), " +
        "ch AS (SELECT doc_id, chunk_idx, " +
        "ws[(chunk_idx * 24 + 1)::INT:(chunk_idx * 24 + 32)::INT] AS chunk " +
        "FROM e) " +
        "SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_tokens, " +
        "md5(list_aggregate(chunk, 'string_agg', ' ')) AS chunk_hash " +
        "FROM ch"),

    // the md5 stream assignment and prefix sum recomputed: window
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back before the integer
    // divisions so chunk indices match Spark's longs
    "t_pack" -> packOracleSql,

    // the JSON assembly must land the identical packing
    "x_config_pack" -> packOracleSql,

    // the three chains recomposed in one statement: decon grams over
    // the SKEWED corpus, budgets over the survivors, LM trained on the
    // balanced rows — each fragment identical in shape to its
    // standalone oracle
    "t_corpus_mix" ->
      ("WITH corpus AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + c * 10000000, text, source " +
        "FROM documents, (SELECT unnest([1, 2, 3]) AS c) " +
        "WHERE source = 'src0'), " +
        "ctoks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "btoks AS (SELECT list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents WHERE doc_id % 97 = 0), " +
        "bw AS (SELECT ws[11:40] AS bw FROM btoks), " +
        "bench AS (SELECT DISTINCT " +
        "list_aggregate(bw[i:i+12], 'string_agg', ' ') AS g " +
        "FROM (SELECT bw, unnest(generate_series(1, len(bw) - 12)) AS i " +
        "FROM bw WHERE len(bw) >= 13)), " +
        "cg AS (SELECT DISTINCT doc_id, " +
        "list_aggregate(ws[i:i+12], 'string_agg', ' ') AS g " +
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 12)) " +
        "AS i FROM ctoks WHERE len(ws) >= 13)), " +
        "contaminated AS (SELECT DISTINCT doc_id FROM cg " +
        "WHERE g IN (SELECT g FROM bench)), " +
        "clean AS (SELECT * FROM corpus WHERE doc_id NOT IN " +
        "(SELECT doc_id FROM contaminated)), " +
        "cnt AS (SELECT source, count(*)::BIGINT AS total, " +
        "round(pow(count(*), 0.5::DOUBLE) * 1e6)::BIGINT AS pw " +
        "FROM clean GROUP BY 1), " +
        "st AS (SELECT sum(pw)::BIGINT AS spw, sum(total)::BIGINT AS t " +
        "FROM cnt), " +
        "bud AS (SELECT source, least(total, greatest(1, " +
        "floor(floor(t / 2) * (pw * 1.0 / spw))::BIGINT)) AS budget " +
        "FROM cnt CROSS JOIN st), " +
        "rk AS (SELECT source, doc_id, row_number() OVER " +
        "(PARTITION BY source ORDER BY md5(text), doc_id) AS rn " +
        "FROM clean), " +
        "keptrows AS (SELECT c.doc_id, c.text, c.source FROM clean c " +
        "JOIN rk ON rk.doc_id = c.doc_id " +
        "JOIN bud ON bud.source = rk.source AND rk.rn <= bud.budget), " +
        "ktoks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM keptrows), " +
        "vs AS (SELECT count(DISTINCT w)::BIGINT AS v FROM " +
        "(SELECT unnest(ws) AS w FROM ktoks)), " +
        "bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM " +
        "(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i " +
        "FROM ktoks WHERE len(ws) >= 2)), " +
        "cb AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg " +
        "GROUP BY 1, 2), " +
        "cu AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM cb GROUP BY 1), " +
        "sc AS (SELECT doc_id, round(-ln((cb.c12 + 1) * 1.0 / " +
        "(cu.c1 + vs.v)) * 1e6)::BIGINT AS s " +
        "FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vs), " +
        "agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
        "sum(s)::BIGINT AS snll FROM sc GROUP BY 1), " +
        "agg2 AS (SELECT doc_id, (snll // n_bigrams)::BIGINT AS m " +
        "FROM agg), " +
        "gate AS (SELECT (sum(m) // count(*))::BIGINT AS avg_nll " +
        "FROM agg2), " +
        "fin AS (SELECT a.doc_id FROM agg2 a CROSS JOIN gate g " +
        "WHERE a.m <= g.avg_nll) " +
        "SELECT k.source, count(*)::BIGINT AS n_final, " +
        "sum(k.doc_id)::BIGINT AS id_sum_final " +
        "FROM keptrows k JOIN fin USING (doc_id) GROUP BY 1"),

    // config-assembled decontamination must equal the hand-written
    // t_decontaminate product (the x_config_media pattern: the JSON
    // surface reaches the retrieval family too)
    "x_config_retrieval" -> decontaminateOracleSql,

    // identical expression SHAPE to bm25TopK (fractional literals cast
    // ::DOUBLE — DuckDB would otherwise parse them as DECIMAL); the
    // per-term score is scaled-long encoded before the sum on both
    // sides, so parallel summation order cannot diverge
    "t_bm25" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents), " +
        "tf AS (SELECT doc_id, len(ws)::BIGINT AS dl, w, " +
        "count(*)::BIGINT AS tf FROM " +
        "(SELECT doc_id, ws, unnest(ws) AS w FROM toks) GROUP BY 1, 2, 3), " +
        "st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl " +
        "FROM (SELECT DISTINCT doc_id, dl FROM tf)), " +
        "df AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1), " +
        "q AS (SELECT doc_id AS qid, unnest(list_distinct(ws[1:4])) AS w " +
        "FROM toks WHERE doc_id % 101 = 0), " +
        "sc AS (SELECT q.qid, tf.doc_id, " +
        "round(ln(1 + (st.n - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) " +
        "* (tf.tf * (1.2::DOUBLE + 1)) / (tf.tf + 1.2::DOUBLE * " +
        "(1 - 0.75::DOUBLE + 0.75::DOUBLE * tf.dl / (st.sdl * 1.0 / st.n))) " +
        "* 1e6)::BIGINT AS s " +
        "FROM q JOIN tf USING (w) JOIN df USING (w) CROSS JOIN st), " +
        "agg AS (SELECT qid, doc_id, sum(s)::BIGINT AS score_scaled " +
        "FROM sc GROUP BY 1, 2) " +
        "SELECT qid, rn, doc_id, score_scaled FROM " +
        "(SELECT qid, doc_id, score_scaled, row_number() OVER " +
        "(PARTITION BY qid ORDER BY score_scaled DESC, doc_id) AS rn " +
        "FROM agg) WHERE rn <= 5"),

    "t_source_balance" ->
      ("WITH corpus AS (SELECT doc_id, text, source FROM documents " +
        "UNION ALL SELECT doc_id + c * 10000000, text, source " +
        "FROM documents, (SELECT unnest([1, 2, 3]) AS c) " +
        "WHERE source = 'src0'), " +
        "cnt AS (SELECT source, count(*)::BIGINT AS total, " +
        "round(pow(count(*), 0.5::DOUBLE) * 1e6)::BIGINT AS pw " +
        "FROM corpus GROUP BY 1), " +
        "st AS (SELECT sum(pw)::BIGINT AS spw, sum(total)::BIGINT AS t " +
        "FROM cnt), " +
        "bud AS (SELECT source, total, least(total, greatest(1, " +
        "floor(floor(t / 2) * (pw * 1.0 / spw))::BIGINT)) AS budget " +
        "FROM cnt CROSS JOIN st), " +
        "rk AS (SELECT source, doc_id, row_number() OVER " +
        "(PARTITION BY source ORDER BY md5(text), doc_id) AS rn " +
        "FROM corpus) " +
        "SELECT b.source, b.total, b.budget, count(*)::BIGINT AS kept, " +
        "sum(r.doc_id)::BIGINT AS kept_id_sum " +
        "FROM rk r JOIN bud b ON r.source = b.source AND r.rn <= b.budget " +
        "GROUP BY 1, 2, 3"),

    "t_lm_score" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents), " +
        "vs AS (SELECT count(DISTINCT w)::BIGINT AS v FROM " +
        "(SELECT unnest(ws) AS w FROM toks)), " +
        "bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM " +
        "(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i " +
        "FROM toks WHERE len(ws) >= 2)), " +
        "cb AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg " +
        "GROUP BY 1, 2), " +
        "cu AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM cb GROUP BY 1), " +
        "sc AS (SELECT doc_id, round(-ln((cb.c12 + 1) * 1.0 / " +
        "(cu.c1 + vs.v)) * 1e6)::BIGINT AS s " +
        "FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vs), " +
        "agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
        "sum(s)::BIGINT AS snll FROM sc GROUP BY 1) " +
        "SELECT doc_id, n_bigrams, " +
        "(snll // n_bigrams)::BIGINT AS nll_mean_scaled FROM agg"),

    "t_ngram_jaccard" ->
      ("WITH corpus AS (SELECT doc_id AS id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, " +
        "text || ' graft dedup tail marker' FROM documents), " +
        "sh AS (SELECT DISTINCT id, substr(text, i, 8) AS s FROM " +
        "(SELECT id, text, unnest(generate_series(1, length(text) - 7)) " +
        "AS i FROM corpus)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, " +
        "round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard " +
        "FROM inter JOIN cnt ca ON ca.id = id_a " +
        "JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8"),

    // exact-jaccard edges over the 3-generation chain corpus, then
    // transitive closure via recursive CTE -> min-id component keeper
    "t_dedup_clusters" ->
      ("WITH RECURSIVE corpus AS (SELECT doc_id AS id, text " +
        "FROM documents UNION ALL SELECT doc_id + 1000000, " +
        "text || ' graft cluster tail one' FROM documents " +
        "UNION ALL SELECT doc_id + 2000000, " +
        "text || ' graft cluster tail one chain tail two' " +
        "FROM documents), " +
        "toks AS (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "sh AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM (SELECT id, " +
        "ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM toks)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.9), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs " +
        "UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT id AS src, id AS dst FROM corpus " +
        "UNION SELECT r.src, e.b FROM reach r JOIN edges e " +
        "ON r.dst = e.a) " +
        "SELECT src AS id, min(dst) AS keeper_id, " +
        "(src = min(dst)) AS is_keeper FROM reach GROUP BY 1"),

    // the curation flow reassembled from tested fragments: jaccard
    // edges >= 0.9 on the twin corpus, recursive-closure keepers,
    // QUAL-1 gate, LANGID-4 label, REDACT-1 scrub
    // day-2 mirror: exhaustive inter-set jaccard drops, then the same
    // QUAL-1 / LANGID-4 / REDACT-1 fragments over the survivors
    "t_incremental_cleanse" ->
      ("WITH news AS (SELECT doc_id + 1000000 AS id, " +
        "CASE WHEN doc_id % 2 = 0 " +
        "THEN text || ' graft dedup tail marker' " +
        "ELSE array_to_string(list_reverse(list_filter(" +
        "string_split(text, ' '), x -> x <> '')), ' ') END AS text " +
        "FROM documents), " +
        "olds AS (SELECT doc_id AS id, text FROM documents), " +
        "sho AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM " +
        "(SELECT id, ws, unnest(generate_series(1, len(ws) - 2)) AS i " +
        "FROM (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM olds))), " +
        "shn AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM " +
        "(SELECT id, ws, unnest(generate_series(1, len(ws) - 2)) AS i " +
        "FROM (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM news))), " +
        "cnto AS (SELECT id, count(*) AS n FROM sho GROUP BY 1), " +
        "cntn AS (SELECT id, count(*) AS n FROM shn GROUP BY 1), " +
        "inter AS (SELECT a.id AS old_id, b.id AS new_id, " +
        "count(*) AS i FROM sho a JOIN shn b USING (s) GROUP BY 1, 2), " +
        "dup AS (SELECT DISTINCT new_id AS id FROM inter " +
        "JOIN cnto ca ON ca.id = old_id " +
        "JOIN cntn cb ON cb.id = new_id " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8), " +
        "t AS (SELECT n.id, n.text, " +
        "list_filter(string_split(lower(n.text), ' '), x -> x <> '') " +
        "AS toks FROM news n LEFT JOIN dup d ON n.id = d.id " +
        "WHERE d.id IS NULL), " +
        s"r AS (SELECT id, text, toks, $langRatioDefsSql FROM t) " +
        s"SELECT id, $langCaseSql AS lang_pred, " +
        s"round(${qualSql("text")}, 2) AS quality, " +
        s"${redactSql("text")} AS clean_text FROM r " +
        s"WHERE ${qualSql("text")} >= 0.5"),

    "t_corpus_cleanse" -> corpusCleanseSql,

    // identical product required from the JSON-assembled pipeline
    "x_config_cleanse" -> corpusCleanseSql,


    // drop counts are structurally zero at this fixture (bucket sizes
    // are doc/twin pairs, far under bucketCap) and the pair count is
    // recomputed by exact jaccard over the same twin corpus — LSH
    // recall on this fixture must be complete (the property
    // t_corpus_cleanse's closure equality already implies) and the
    // ledger must report no silent bucket drops
    "t_cleanse_ledger" ->
      ("WITH corpus AS (SELECT doc_id AS id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, " +
        "text || ' graft cluster tail one' FROM documents), " +
        "tk AS (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "sh AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM (SELECT id, " +
        "ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM tk)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.9) " +
        "SELECT 0::BIGINT AS dropped_buckets, 0::BIGINT AS dropped_rows, " +
        "(SELECT count(*) FROM pairs)::BIGINT AS n_pairs"),

    // exact mirror of SimHash.simhash64: per-token FNV-1a then SplitMix64
    // finalizer, both in mod-2^64 HUGEINT arithmetic (the two big-constant
    // multiplies split into 32-bit halves to stay inside INT128), then
    // per-bit majority votes; pairs = exhaustive hamming<=3 self-join.
    // Precondition (holds for the synth fixtures): BMP-only text — Scala
    // hashes UTF-16 units, ascii(c) yields code points.
    "t_dedup_simhash" ->
      ("WITH corpus AS (SELECT doc_id AS id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents), " +
        "tok AS (SELECT id, unnest(list_filter(string_split(text, ' '), " +
        "x -> x <> '')) AS w FROM corpus), " +
        "fnv AS (SELECT id, list_reduce(list_prepend(" +
        "14695981039346656037::HUGEINT, " +
        "list_transform(string_split(w, ''), c -> ascii(c)::HUGEINT)), " +
        "(acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % " +
        "18446744073709551616::HUGEINT) AS h0 FROM tok), " +
        // one frozen SplitMix64 HUGEINT mirror in the codebase: the
        // same generator the t_kmv_distinct oracle uses
        "th AS (SELECT id, " +
        graft.functions.KmvDistinct.mix64Sql("h0") + " AS th " +
        "FROM fnv), " +
        "votes AS (SELECT id, b, sum(CASE WHEN (th >> b) % 2 = 1 " +
        "THEN 1 ELSE -1 END) AS v FROM th CROSS JOIN " +
        "(SELECT unnest(generate_series(0, 63)) AS b) bs GROUP BY 1, 2), " +
        "sh AS (SELECT id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) " +
        "ELSE 0::HUGEINT END) AS sh FROM votes GROUP BY 1) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "bit_count(xor(a.sh, b.sh))::INT AS dist " +
        "FROM sh a JOIN sh b ON a.id < b.id " +
        "WHERE bit_count(xor(a.sh, b.sh)) <= 3"),

    "t_dedup_embedding" ->
      ("WITH corpus AS (SELECT vec_id AS id, embedding AS vec " +
        "FROM embeddings UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(embedding, x -> x * 1.01::FLOAT) " +
        "FROM embeddings) " +
        "SELECT a.id AS id_a, b.id AS id_b FROM corpus a JOIN corpus b " +
        "ON a.id < b.id " +
        "WHERE list_cosine_similarity(a.vec, b.vec) >= 0.95"),

    "t_ann_lsh" -> annTwinTopKSql,

    "t_ann_ivf" -> annTwinTopKSql,

    "t_redact" ->
      ("WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN " +
        s"text || '$piiSuffix' ELSE text END AS text FROM documents) " +
        s"SELECT doc_id, ${redactSql("text")} AS redacted FROM aug"),

    "t_repetition" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM documents) SELECT doc_id, " +
        "round(list_max(list_transform(list_distinct(ws), " +
        "w -> len(list_filter(ws, x -> x = w)))) * 1.0 / len(ws), 4) " +
        "AS top_tok_ratio, " +
        "round(CASE WHEN len(ws) < 2 THEN 0.0 ELSE 1.0 - " +
        "len(list_distinct(list_transform(generate_series(1, " +
        "len(ws) - 1), i -> ws[i] || ' ' || ws[i+1]))) * 1.0 / " +
        "(len(ws) - 1) END, 4) AS dup_bigram_ratio FROM t"),

    "t_sample" ->
      ("SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 2) AS bucket " +
        "FROM documents WHERE substr(md5(doc_id::VARCHAR), 1, 2) " +
        "< '1a'"),

    "t_ann_cosine" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding AS qvec " +
        "FROM embeddings WHERE vec_id < 8), " +
        "scored AS (SELECT q.qid, e.vec_id AS id, " +
        "list_cosine_similarity(q.qvec, e.embedding) AS sim " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid) " +
        "SELECT qid, rank, id FROM (SELECT qid, id, row_number() OVER " +
        "(PARTITION BY qid ORDER BY sim DESC, id ASC) AS rank " +
        "FROM scored) WHERE rank <= 3"),

    // the exact kNN, majority vote and per-label rollup recomputed;
    // ties break (count desc, label asc) on both sides
    "t_knn_label" ->
      ("WITH p AS (SELECT vec_id AS qid, embedding AS qvec, " +
        "label AS qlabel FROM embeddings WHERE vec_id % 25 = 0), " +
        "s AS (SELECT p.qid, e.vec_id AS id, " +
        "list_cosine_similarity(p.qvec, e.embedding) AS sim " +
        "FROM embeddings e, p WHERE e.vec_id <> p.qid), " +
        "nn AS (SELECT qid, id FROM (SELECT qid, id, row_number() " +
        "OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rank " +
        "FROM s) WHERE rank <= 5), " +
        "v AS (SELECT nn.qid, e.label AS nlabel, count(*)::BIGINT AS c " +
        "FROM nn JOIN embeddings e ON e.vec_id = nn.id GROUP BY 1, 2), " +
        "pr AS (SELECT qid, nlabel AS pred FROM (SELECT qid, nlabel, " +
        "row_number() OVER (PARTITION BY qid ORDER BY c DESC, " +
        "nlabel ASC) AS r FROM v) WHERE r = 1) " +
        "SELECT p.qlabel AS label, count(*)::BIGINT AS n_probes, " +
        "sum(CASE WHEN pr.pred = p.qlabel THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_agree, " +
        "sum(CASE WHEN pr.pred = p.qlabel THEN p.qid ELSE 0 END)" +
        "::BIGINT AS agree_id_sum " +
        "FROM pr JOIN p USING (qid) GROUP BY 1"),

    "t_quality" ->
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0 / " +
        "len(string_split(text, ' ')), 4) AS sw_ratio, " +
        "round(len(list_distinct(string_split(text, ' '))) * 1.0 / " +
        "len(string_split(text, ' ')), 4) AS uniq_ratio, " +
        s"round(${qualSql("text")}, 2) AS quality FROM documents"),

    "t_line_shape" -> lineShapeOracleSql,

    "t_fingerprint" ->
      ("SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
        "list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS fp FROM documents"),

    "q_robust_stats" ->
      ("WITH med AS (SELECT l_returnflag, median(l_quantity) AS med " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, round(any_value(med.med), 4) AS med, " +
        "round(median(abs(l_quantity - med.med)), 4) AS mad " +
        "FROM lineitem JOIN med USING (l_returnflag) GROUP BY 1"),

    "t_lang_id" -> langIdOracleSql)

  /** LANGID-4 oracle: IN-lists and the argmax CASE chain are GENERATED
    * from the same frozen stopword vectors the Spark expression uses
    * (no transcription drift), while the lex_hash stays a HARD-CODED
    * literal — editing a stopword list without re-pinning breaks the
    * gate, which is the pin's purpose.
    */
  /** LANGID-4 per-language ratio definitions (SELECT-list fragment over
    * columns `toks`), generated from the frozen stopword vectors.
    */
  private lazy val langRatioDefsSql: String =
    graft.ops.Lexicon.langOrder.map { l =>
      val words = graft.ops.Lexicon.collection(l).words
        .map(w => s"'$w'").mkString(",")
      s"len(list_filter(toks, x -> x IN ($words))) * 1.0 / " +
        s"greatest(len(toks), 1) AS r_$l"
    }.mkString(", ")

  /** LANGID-4 decision CASE (over columns `text`, `toks`, `r_*`). */
  private lazy val langCaseSql: String = {
    val langs = graft.ops.Lexicon.langOrder
    val caseChain = langs.indices.map { i =>
      val conds = (i + 1 until langs.length)
        .map(j => s"r_${langs(i)} >= r_${langs(j)}") :+
        s"r_${langs(i)} >= 0.03"
      s"WHEN ${conds.mkString(" AND ")} THEN '${langs(i)}'"
    }.mkString(" ")
    "CASE WHEN len(toks) = 0 THEN 'other' " +
      "WHEN regexp_matches(text, '[\\x{3040}-\\x{30ff}]') THEN 'ja' " +
      "WHEN regexp_matches(text, '[\\x{ac00}-\\x{d7af}]') THEN 'ko' " +
      "WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
      "WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru' " +
      "WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar' " +
      "WHEN regexp_matches(text, '[\\x{0590}-\\x{05ff}]') THEN 'he' " +
      "WHEN regexp_matches(text, '[\\x{0370}-\\x{03ff}]') THEN 'el' " +
      "WHEN regexp_matches(text, '[\\x{0900}-\\x{097f}]') THEN 'hi' " +
      "WHEN regexp_matches(text, '[\\x{0e00}-\\x{0e7f}]') THEN 'th' " +
      s"$caseChain ELSE 'other' END"
  }

  /** MEDIA-2 oracle: recomputes the BMP luma / WAV abs-sample content
    * hashes and 8-band floor-mean embeddings from the synthesis
    * formulas (Multimodal.synthContent*) in pure integer SQL — the
    * Spark side must recover identical values from the container BYTES
    * alone (bottom-up BGR rows + padding, LE PCM words). FNV-1a runs
    * in mod-2^64 HUGEINT arithmetic (the established t_multimodal
    * mirror).
    */
  private val fnv = (vals: String) =>
    s"list_reduce(list_prepend(14695981039346656037::HUGEINT, $vals)" +
      ", (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % " +
      "18446744073709551616::HUGEINT)"
  private val toSigned = (h: String) =>
    s"(CASE WHEN $h >= 9223372036854775808::HUGEINT " +
      s"THEN $h - 18446744073709551616::HUGEINT ELSE $h END)::BIGINT"
  // per-pixel integer luma as a function of flat index i (y=i//w,
  // x=i%w) and the MEDIA-2 channel formulas incl. the nonlinear
  // cross term q (see Multimodal.synthContentPixel)
  private val pixQ =
    "(((doc_id % 97 + 3) * ((i%w) + 1) * ((i//w) + 2)) % 256)"
  private val luma =
    s"((299*((doc_id + 3*(i%w) + 7*(i//w) + $pixQ) % 256) + " +
      s"587*((2*doc_id + 5*(i%w) + (i//w) + 2*$pixQ) % 256) + " +
      s"114*((3*doc_id + (i%w) + 11*(i//w) + 3*$pixQ) % 256)) // 1000)"
  // wav sample s_i and its unsigned LE byte pair
  private val samp = "(((doc_id*31 + i*17) % 2001) - 1000)"
  private val usamp =
    s"(CASE WHEN $samp < 0 THEN $samp + 65536 ELSE $samp END)"

  /** Shared MEDIA-2 hash CTE chain: yields table mc(doc_id, hh) with
    * the content hash (HUGEINT) of every doc's synthesized container.
    */
  private lazy val mediaHashCtes: String =
    "bm AS (SELECT doc_id, 4 + doc_id % 13 AS w, " +
      "4 + doc_id % 11 AS h FROM documents WHERE doc_id % 2 = 0), " +
      "bi AS (SELECT *, generate_series(0, (w*h - 1)::BIGINT) AS idx " +
      "FROM bm), " +
      "bh2 AS (SELECT doc_id, " +
      fnv(s"list_transform(idx, i -> $luma::HUGEINT)") + " AS hh " +
      "FROM bi), " +
      "wm AS (SELECT doc_id, 50 + doc_id % 100 AS n FROM documents " +
      "WHERE doc_id % 2 = 1), " +
      "wi AS (SELECT *, generate_series(0, (n - 1)::BIGINT) AS idx " +
      "FROM wm), " +
      "wh2 AS (SELECT doc_id, " +
      fnv("flatten(list_transform(idx, i -> " +
        s"[($usamp % 256)::HUGEINT, ($usamp // 256)::HUGEINT]))") +
      " AS hh FROM wi), " +
      "mc AS (SELECT doc_id, hh FROM bh2 " +
      "UNION ALL SELECT doc_id, hh FROM wh2)"

  /** MEDIA-2 dedup oracle: twins (every 3rd doc, byte-distinct headers)
    * share their base's decoded-content hash, so is_dup is true exactly
    * for the twinned ids; computed by a window count over the
    * formula-recomputed hashes.
    */
  /** The WINNOW-1 chain recomputed exactly in SQL over the planted
    * padding-embed corpus (history docs + every-4th doc wrapped in
    * fresh padding under id+2000000): fold hashes, forward-window
    * minima, fpCap, containment scores. `pairWhere` selects which
    * (a, b) pairs may form — the batch query allows any a.id < b.id,
    * the incremental query only (history, new) inter-set pairs.
    */
  private def containmentOracleSql(pairWhere: String): String =
    "WITH base AS (SELECT doc_id AS id, text FROM documents), " +
      "corpus AS (SELECT id, text FROM base " +
      "UNION ALL SELECT id + 2000000, " +
      "'alpha beta gamma delta padding ' || text || " +
      "' omega psi chi padding words' FROM base WHERE id % 4 = 0), " +
      "ch AS (SELECT id, list_transform(list_filter(" +
      "string_split(text, ''), c -> c <> ''), " +
      "c -> ascii(c)::BIGINT) AS cs FROM corpus), " +
      "sz AS (SELECT id, cs, len(cs) - 7 AS m FROM ch), " +
      "kg AS (SELECT id, m, i AS pos, " +
      "list_reduce(list_prepend(0::BIGINT, cs[i+1:i+8]), " +
      "(a, c) -> (a * 31 + c) % 1000000007) AS h " +
      "FROM (SELECT id, cs, m, " +
      "unnest(generate_series(0, (m-1)::BIGINT)) AS i " +
      "FROM sz WHERE m >= 1)), " +
      "wm AS (SELECT id, pos, m, min(h) OVER (PARTITION BY id " +
      "ORDER BY pos ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS f " +
      "FROM kg), " +
      "fp0 AS (SELECT DISTINCT id, f FROM wm " +
      "WHERE m > 16 AND pos <= m - 16 " +
      "UNION SELECT id, min(h) AS f FROM kg WHERE m <= 16 " +
      "GROUP BY id), " +
      "kept AS (SELECT f FROM fp0 GROUP BY f " +
      "HAVING count(*) <= 64), " +
      "fp AS (SELECT id, f FROM fp0 JOIN kept USING (f)), " +
      "cnt AS (SELECT id, count(*) AS n FROM fp GROUP BY 1), " +
      "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS s " +
      s"FROM fp a JOIN fp b USING (f) WHERE $pairWhere " +
      "GROUP BY 1, 2) " +
      "SELECT id_a, id_b, " +
      "round(s * 1.0 / least(ca.n, cb.n), 4) AS containment " +
      "FROM inter JOIN cnt ca ON ca.id = id_a " +
      "JOIN cnt cb ON cb.id = id_b " +
      "WHERE round(s * 1.0 / least(ca.n, cb.n), 4) >= 0.5"

  // the same 13-gram construction as Retrieval.decontaminate; DuckDB
  // list slices are 1-based inclusive (ws[i:i+12] == slice(ws, i, 13)).
  // Shared by t_decontaminate (direct) and x_config_retrieval (the
  // JSON-assembled pipeline must land on the identical product).
  private lazy val decontaminateOracleSql: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
      "x -> x <> '') AS ws FROM documents), " +
      "bw AS (SELECT ws[11:40] AS bw FROM toks WHERE doc_id % 97 = 0), " +
      "bench AS (SELECT DISTINCT " +
      "list_aggregate(bw[i:i+12], 'string_agg', ' ') AS g " +
      "FROM (SELECT bw, unnest(generate_series(1, len(bw) - 12)) AS i " +
      "FROM bw WHERE len(bw) >= 13)), " +
      "cg AS (SELECT DISTINCT doc_id, " +
      "list_aggregate(ws[i:i+12], 'string_agg', ' ') AS g " +
      "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 12)) " +
      "AS i FROM toks WHERE len(ws) >= 13)) " +
      "SELECT doc_id, count(*)::BIGINT AS n_shared FROM cg " +
      "WHERE g IN (SELECT g FROM bench) GROUP BY 1"

  /** BLOOM-1 char fold of SQL expression `e` mod `p` (matches
    * `BloomOps.fold` code point by code point).
    */
  private def bloomFoldSql(e: String, p: Long): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($e, ''), c -> ascii(c)::BIGINT)), " +
      s"(a, c) -> (a * 31 + c) % $p)"

  /** BLOOM-1 oracle: the bloom's set-bit positions are recomputed
    * exactly (h1 + i*(2*h2+1) mod m over the reference set), so a
    * value is "contained" iff all k=7 of its probe positions are in
    * that set — bit-identical to the Spark blob, false positives
    * included.
    */
  private lazy val bloomDecontaminateOracleSql: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
      "x -> x <> '') AS ws FROM documents), " +
      "bw AS (SELECT ws[11:40] AS bw FROM toks WHERE doc_id % 97 = 0), " +
      "bench AS (SELECT DISTINCT " +
      "list_aggregate(bw[i:i+12], 'string_agg', ' ') AS g " +
      "FROM (SELECT bw, unnest(generate_series(1, len(bw) - 12)) AS i " +
      "FROM bw WHERE len(bw) >= 13)), " +
      s"bh AS (SELECT g, ${bloomFoldSql("g", 1000000007L)} AS h1, " +
      s"${bloomFoldSql("g", 998244353L)} AS h2 FROM bench), " +
      "bp AS (SELECT DISTINCT (h1 + i * (2*h2 + 1)) % 32768 AS p FROM " +
      "(SELECT h1, h2, unnest(generate_series(0, 6)) AS i FROM bh)), " +
      "cg AS (SELECT DISTINCT doc_id, " +
      "list_aggregate(ws[i:i+12], 'string_agg', ' ') AS g " +
      "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 12)) " +
      "AS i FROM toks WHERE len(ws) >= 13)), " +
      s"ch AS (SELECT doc_id, g, ${bloomFoldSql("g", 1000000007L)} AS " +
      s"h1, ${bloomFoldSql("g", 998244353L)} AS h2 FROM cg), " +
      "cp AS (SELECT doc_id, g, (h1 + i * (2*h2 + 1)) % 32768 AS p " +
      "FROM (SELECT doc_id, g, h1, h2, " +
      "unnest(generate_series(0, 6)) AS i FROM ch)), " +
      "hit AS (SELECT doc_id, g FROM cp JOIN bp ON cp.p = bp.p " +
      "GROUP BY doc_id, g HAVING count(*) = 7) " +
      "SELECT doc_id, count(*)::BIGINT AS n_shared FROM hit GROUP BY 1"

  private lazy val bloomMergeOracleSql: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
      "x -> x <> '') AS ws FROM documents), " +
      "tk AS (SELECT DISTINCT tok FROM " +
      "(SELECT unnest(ws) AS tok FROM toks)), " +
      s"th AS (SELECT tok, ${bloomFoldSql("tok", 1000000007L)} AS h1, " +
      s"${bloomFoldSql("tok", 998244353L)} AS h2 FROM tk), " +
      "up AS (SELECT DISTINCT (h1 + i * (2*h2 + 1)) % 1048576 AS p " +
      "FROM (SELECT h1, h2, unnest(generate_series(0, 6)) AS i " +
      "FROM th)), " +
      "pr AS (SELECT ws[1] AS probe FROM toks " +
      "WHERE doc_id % 50 = 0 AND len(ws) >= 1 " +
      "UNION SELECT 'zzz@absent@1' UNION SELECT 'zzz@absent@2'), " +
      s"ph AS (SELECT probe, ${bloomFoldSql("probe", 1000000007L)} AS " +
      s"h1, ${bloomFoldSql("probe", 998244353L)} AS h2 FROM pr), " +
      "pp AS (SELECT probe, (h1 + i * (2*h2 + 1)) % 1048576 AS p " +
      "FROM (SELECT probe, h1, h2, " +
      "unnest(generate_series(0, 6)) AS i FROM ph)) " +
      "SELECT pp.probe, (count(up.p) = 7) AS hit FROM pp " +
      "LEFT JOIN up ON pp.p = up.p GROUP BY pp.probe"

  private lazy val mediaDedupOracleSql: String =
    s"WITH $mediaHashCtes, " +
      "allm AS (SELECT doc_id AS media_id, hh FROM mc " +
      "UNION ALL SELECT doc_id + 5000000, hh FROM mc " +
      "WHERE doc_id % 3 = 0) " +
      "SELECT media_id, " + toSigned("hh") + " AS content_hash, " +
      "count(*) OVER (PARTITION BY hh) > 1 AS is_dup FROM allm"

  /** MEDIA-4/MEDIA-5 oracle: every doc is a full compressed container
    * (PNG or GIF) of the SAME pixel formulas as the BMP corpus (no %2
    * split), so the expected hash+bands are the BMP-branch
    * recomputation over all ids — only the format label differs.
    */
  private def lumaFormulaOracleSql(fmt: String): String = {
    val bands = (0 until 8).map { d =>
      val sel = s"list_filter(idx, i -> (i//w)*8//h = $d)"
      s"(CASE WHEN len($sel) = 0 THEN 0 ELSE " +
        s"list_sum(list_transform($sel, i -> $luma))::BIGINT // " +
        s"len($sel) END)::BIGINT AS e$d"
    }.mkString(", ")
    "WITH bm AS (SELECT doc_id, 4 + doc_id % 13 AS w, " +
      "4 + doc_id % 11 AS h FROM documents), " +
      "bi AS (SELECT *, generate_series(0, (w*h - 1)::BIGINT) AS idx " +
      "FROM bm), " +
      "bh AS (SELECT doc_id, " +
      fnv(s"list_transform(idx, i -> $luma::HUGEINT)") +
      s" AS hh, $bands FROM bi) " +
      s"SELECT doc_id AS media_id, '$fmt' AS format, " +
      toSigned("hh") + " AS content_hash, " +
      (0 until 8).map(d => s"e$d").mkString(", ") + " FROM bh"
  }
  /** MEDIA-1 oracle: the synthContainer header formulas recomputed —
    * shared by the batch (t_media_headers) and streaming
    * (x_streaming_media) gates.
    */
  private lazy val mediaHeadersOracleSql: String =
    "SELECT doc_id AS media_id, " +
      "CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' " +
      "WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' ELSE 'wav' END AS format, " +
      "(CASE doc_id % 5 WHEN 0 THEN 45 " +
      "WHEN 1 THEN 14 + 22 * (1 + doc_id % 5) WHEN 2 THEN 54 " +
      "WHEN 3 THEN 35 ELSE 44 + 2 * (100 + doc_id % 1000) END)::BIGINT " +
      "AS n_bytes, " +
      "(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 16 + (doc_id * 7) % 509 " +
      "END)::INT AS width, " +
      "(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 16 + (doc_id * 13) % 509 " +
      "END)::INT AS height, " +
      "(CASE WHEN doc_id % 5 = 4 THEN 100 + doc_id % 1000 " +
      "WHEN doc_id % 5 = 1 THEN 1 + doc_id % 5 ELSE 1 " +
      "END)::INT AS n_frames FROM documents"

  private lazy val pngContentOracleSql: String =
    lumaFormulaOracleSql("png")
  private lazy val gifContentOracleSql: String =
    lumaFormulaOracleSql("gif")

  private lazy val packOracleSql: String =
    "WITH t AS (SELECT doc_id, len(list_filter(string_split(text, " +
      "' '), x -> x <> ''))::BIGINT AS n_tokens, " +
      "md5(doc_id::VARCHAR) AS ord, " +
      "substr(md5(doc_id::VARCHAR), 1, 1) AS bucket FROM documents), " +
      "c AS (SELECT doc_id, bucket, n_tokens, " +
      "COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket " +
      "ORDER BY ord, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "1 PRECEDING), 0)::BIGINT AS tok_start " +
      "FROM t WHERE n_tokens >= 1) " +
      "SELECT doc_id, bucket, n_tokens, tok_start, " +
      "tok_start // 128 AS chunk_first, " +
      "(tok_start + n_tokens - 1) // 128 AS chunk_last, " +
      "((tok_start + n_tokens - 1) // 128) - (tok_start // 128) + 1 " +
      "AS chunk_n FROM c"

  /** MEDIA-6 oracle: luma of pixel i is the flat-tile formula
    * Jpeg.tileLuma(id, (i%w)//8, (i//w)//8) — exact because quant-8
    * DC-only blocks round-trip losslessly through baseline JPEG.
    */
  private lazy val jpegContentOracleSql: String = {
    val g = "((doc_id*11 + 23*((i%w)//8) + 41*((i//w)//8) + " +
      "(doc_id % 89 + 1)*(((i%w)//8) + 2)*(((i//w)//8) + 3)) % 256)"
    val bands = (0 until 8).map { d =>
      val sel = s"list_filter(idx, i -> (i//w)*8//h = $d)"
      s"(CASE WHEN len($sel) = 0 THEN 0 ELSE " +
        s"list_sum(list_transform($sel, i -> $g))::BIGINT // " +
        s"len($sel) END)::BIGINT AS e$d"
    }.mkString(", ")
    "WITH jm AS (SELECT doc_id, 8 + (doc_id * 5) % 29 AS w, " +
      "8 + (doc_id * 3) % 23 AS h FROM documents), " +
      "ji AS (SELECT *, generate_series(0, (w*h - 1)::BIGINT) AS idx " +
      "FROM jm), " +
      "jh AS (SELECT doc_id, " +
      fnv(s"list_transform(idx, i -> $g::HUGEINT)") +
      s" AS hh, $bands FROM ji) " +
      "SELECT doc_id AS media_id, 'jpeg' AS format, " +
      toSigned("hh") + " AS content_hash, " +
      (0 until 8).map(d => s"e$d").mkString(", ") + " FROM jh"
  }

  private lazy val mediaContentOracleSql: String = {
    val bmpBands = (0 until 8).map { d =>
      val sel = s"list_filter(idx, i -> (i//w)*8//h = $d)"
      s"(CASE WHEN len($sel) = 0 THEN 0 ELSE " +
        s"list_sum(list_transform($sel, i -> $luma))::BIGINT // " +
        s"len($sel) END)::BIGINT AS e$d"
    }.mkString(", ")
    val wavBands = (0 until 8).map { d =>
      val sel = s"list_filter(idx, i -> i*8//n = $d)"
      s"(CASE WHEN len($sel) = 0 THEN 0 ELSE " +
        s"list_sum(list_transform($sel, i -> abs($samp)))::BIGINT // " +
        s"len($sel) END)::BIGINT AS e$d"
    }.mkString(", ")
    "WITH bm AS (SELECT doc_id, 4 + doc_id % 13 AS w, " +
      "4 + doc_id % 11 AS h FROM documents WHERE doc_id % 2 = 0), " +
      "bi AS (SELECT *, generate_series(0, (w*h - 1)::BIGINT) AS idx " +
      "FROM bm), " +
      "bh AS (SELECT doc_id, " +
      fnv(s"list_transform(idx, i -> $luma::HUGEINT)") + " AS hh, " +
      s"$bmpBands FROM bi), " +
      "wm AS (SELECT doc_id, 50 + doc_id % 100 AS n FROM documents " +
      "WHERE doc_id % 2 = 1), " +
      "wi AS (SELECT *, generate_series(0, (n - 1)::BIGINT) AS idx " +
      "FROM wm), " +
      "wh AS (SELECT doc_id, " +
      fnv("flatten(list_transform(idx, i -> " +
        s"[($usamp % 256)::HUGEINT, ($usamp // 256)::HUGEINT]))") +
      s" AS hh, $wavBands FROM wi) " +
      "SELECT doc_id AS media_id, 'bmp' AS format, " +
      toSigned("hh") + " AS content_hash, " +
      (0 until 8).map(d => s"e$d").mkString(", ") + " FROM bh " +
      "UNION ALL SELECT doc_id, 'wav', " + toSigned("hh") + ", " +
      (0 until 8).map(d => s"e$d").mkString(", ") + " FROM wh"
  }

  /** BPE-1 oracle: the nested-replace merge chain is GENERATED from the
    * same frozen merge table the Spark expression folds over (no
    * transcription drift), while bpe_hash stays a HARD-CODED literal —
    * editing a merge without re-pinning breaks the gate (the same
    * tamper-seal pattern as the LANGID lexicon hash).
    */
  private lazy val bpeTokensOracleSql: String = {
    val chain = graft.ops.Bpe.merges.foldLeft(
      "'|' || array_to_string(string_split(x, ''), '||') || '|'") {
      case (s, (a, b)) => s"replace($s, '|$a||$b|', '|$a$b|')"
    }
    "WITH w AS (SELECT doc_id, list_filter(list_transform(" +
      "string_split(text, ' '), w -> regexp_replace(w, " +
      "'[^\\x21-\\x7B\\x7D\\x7E]', '', 'g')), x -> x <> '') AS ws " +
      "FROM documents) " +
      "SELECT doc_id, coalesce(list_sum(list_transform(ws, x -> " +
      s"len(string_split($chain, '||')))), 0)::BIGINT " +
      "AS n_bpe_tokens, '237bd1c3f643e1f4d049297819a74a39aae84222" +
      "0b8d8b4c1a190fa39c904578' AS bpe_hash FROM w"
  }

  /** LSHAPE-1 oracle: fixtures mirrored as VALUES; ratios recomputed
    * with the same line/word conventions ('\n' lines, whitespace
    * words floored at 1, non-overlapping "..." count via replace).
    */
  private lazy val lineShapeOracleSql: String = {
    val fixtures = lineShapeFixtures
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    "WITH src AS (SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT * FROM (VALUES $fixtures) fx(doc_id, text)), " +
      "t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls, " +
      "greatest(len(list_filter(string_split(text, ' '), " +
      "x -> x <> '')), 1) AS nw FROM src) " +
      "SELECT doc_id, " +
      "round(len(list_filter(ls, l -> regexp_matches(ltrim(l), " +
      "'^[-*•]'))) * 1.0 / len(ls), 4) AS bullet_ratio, " +
      "round(len(list_filter(ls, l -> regexp_matches(l, " +
      "'(\\.\\.\\.|…)\\z'))) * 1.0 / len(ls), 4) AS ellipsis_ratio, " +
      "round(((length(text) - length(replace(text, '#', ''))) + " +
      "(length(text) - length(replace(text, '...', ''))) // 3) " +
      "* 1.0 / nw, 4) AS symbol_ratio FROM t"
  }

  /** Shared by t_corpus_cleanse and the JSON-assembled
    * x_config_cleanse (both must land the identical product). */
  private lazy val corpusCleanseSql: String =
      ("WITH RECURSIVE corpus AS (SELECT doc_id AS id, text " +
        "FROM documents UNION ALL SELECT doc_id + 1000000, " +
        "text || ' graft cluster tail one' FROM documents), " +
        "tk AS (SELECT id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS ws FROM corpus), " +
        "sh AS (SELECT DISTINCT id, " +
        "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM (SELECT id, " +
        "ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM tk)), " +
        "cnt AS (SELECT id, count(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i " +
        "FROM sh a JOIN sh b USING (s) WHERE a.id < b.id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b " +
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.9), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs " +
        "UNION ALL SELECT id_b, id_a FROM pairs), " +
        "reach AS (SELECT id AS src, id AS dst FROM corpus " +
        "UNION SELECT r.src, e.b FROM reach r JOIN edges e " +
        "ON r.dst = e.a), " +
        "keep AS (SELECT src AS id FROM reach GROUP BY src " +
        "HAVING src = min(dst)), " +
        "t AS (SELECT c.id, c.text, " +
        "list_filter(string_split(lower(c.text), ' '), x -> x <> '') " +
        "AS toks FROM corpus c JOIN keep USING (id)), " +
        s"r AS (SELECT id, text, toks, $langRatioDefsSql FROM t) " +
        s"SELECT id, $langCaseSql AS lang_pred, " +
        s"round(${qualSql("text")}, 2) AS quality, " +
        s"${redactSql("text")} AS clean_text FROM r " +
        s"WHERE ${qualSql("text")} >= 0.5")

  private lazy val langIdOracleSql: String = {
    val fixtures = langFixtures
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    "WITH src AS (SELECT doc_id, text FROM documents UNION ALL " +
      s"SELECT * FROM (VALUES $fixtures) fx(doc_id, text)), " +
      "t AS (SELECT doc_id, text, " +
      "list_filter(string_split(lower(text), ' '), x -> x <> '') " +
      "AS toks FROM src), " +
      s"r AS (SELECT doc_id, text, toks, $langRatioDefsSql FROM t) " +
      s"SELECT doc_id, $langCaseSql AS lang_pred, " +
      "'f63b9a4141b95e512ff38293c887eafaf6dbb3ebb7eddf9a274f48fc9bf1" +
      "73d7' AS lex_hash FROM r"
  }
}
