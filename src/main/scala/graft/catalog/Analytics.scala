package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryPack, Scratch, Tables}

/** Reshaping + order-statistics operators: pivot, unpivot, exact
  * interpolated percentiles, sorted array aggregation (SURVEY.md §2.B
  * aggregation surface; no reference citation).
  *
  * Determinism: pivot cells are integer counts (missing → 0); unpivot is a
  * pure reshape; percentiles interpolate over exact-integer `p_size` /
  * DECIMAL-cast values so both engines interpolate the same rationals;
  * array_agg is wrapped in an explicit sort (collect order is
  * partition-dependent, sorted output is not).
  *
  * Scale notes: pivot with EXPLICIT values compiles to one pass of
  * conditional aggregates (no second distinct-values job — always list the
  * columns at 100 TB); unpivot is a generator projection, no shuffle;
  * percentile is a single-pass sort-based aggregate per group; array_agg
  * per group is bounded by group cardinality — cap with slice when the
  * group can be hot.
  */
object Analytics extends QueryPack {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private[catalog] val P = 2147483647L
  /** g4: target shard size in characters (shared with CorpusGate's c2). */
  private[catalog] val ShardBudget = 2000L
  /** per-event-type sampling rates in percent (g2). */
  private val SampleRates = Seq(
    "view" -> 5L, "click" -> 20L, "error" -> 50L,
    "purchase" -> 100L, "signup" -> 10L)
  /** g6: target language mixture in percent and total document budget
    * (shared with CorpusGate's c2 export pipeline). */
  private val MixtureWeights = Seq(
    "en" -> 40L, "de" -> 15L, "es" -> 15L, "fr" -> 15L, "zh" -> 15L)
  private[catalog] val MixtureBudget = 200L
  /** CASE expr mapping a lang column to its mixture weight (0 if unlisted) —
    * identical text runs on both engines (shared with CorpusGate's c2). */
  private[catalog] def weightCase(col: String): String =
    s"(CASE $col " + MixtureWeights.map {
      case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") + " ELSE 0 END)"

  /** g12's hash ring: 8 virtual nodes per shard, position = md5 of the
    * constant vnode label — computed HERE (driver-side, tiny) and embedded
    * as sorted literal arrays in both engines' plans, so ring assignment
    * needs no join. Fixed-width lowercase hex compares lexicographically
    * in numeric order on both engines. */
  private def ringNodes(nShards: Int): Seq[(String, Int)] =
    (0 until nShards).flatMap { sh =>
      (0 until 8).map { v =>
        val label = s"s$sh:$v"
        val pos = java.security.MessageDigest.getInstance("MD5")
          .digest(label.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (pos, sh)
      }
    }.sortBy(_._1)
  /** (positions array, shards array) literals — Spark expr syntax. */
  private def ringLits(nShards: Int): (String, String) = {
    val r = ringNodes(nShards)
    (r.map(p => s"'${p._1}'").mkString("array(", ",", ")"),
     r.map(_._2).mkString("array(", ",", ")"))
  }
  /** same literals in DuckDB list syntax. */
  private def ringSqlLits(nShards: Int): (String, String) = {
    val r = ringNodes(nShards)
    (r.map(p => s"'${p._1}'").mkString("[", ",", "]"),
     r.map(_._2).mkString("[", ",", "]"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // p1: per-user event-type counts pivoted to columns (explicit values)
    "p1_pivot" -> { (s, dir) =>
      import s.implicits._
      val pivoted = Tables(s, dir).events
        .groupBy($"user_id")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
      pivoted.select($"user_id" +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy($"user_id")
    },
    // p2: unpivot part measures to (part, measure, value) long form
    "p2_unpivot" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).part
        .select($"p_partkey", $"p_size".cast("double").as("p_size"),
                $"p_retailprice")
        .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
                 "measure", "value")
        .orderBy($"p_partkey", $"measure")
    },
    // q6: exact interpolated percentiles of integer p_size per brand
    "q6_percentiles" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).part
        .groupBy($"p_brand")
        .agg(expr("percentile(p_size, 0.5)").as("p50"),
             expr("percentile(p_size, 0.9)").as("p90"),
             count(lit(1)).as("n"))
        .orderBy($"p_brand")
    },
    // g2: deterministic stratified sampling — per-stratum rates over a
    // multiplicative integer hash of the row id. No rand(): the sample is a
    // pure row-local predicate, reproducible on any engine/parallelism and
    // stable across reruns (the property a training pipeline needs for
    // resumable corpus construction). Overflow-safe: (id % P) * 48271 < 2^63.
    "g2_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      val rate = element_at(
        map(SampleRates.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        $"event_type")
      Tables(s, dir).events
        .withColumn("bucket", (($"event_id" % P) * 48271L + 11L) % P % 100L)
        .filter($"bucket" < rate)
        .select($"event_id", $"event_type", $"bucket")
        .orderBy($"event_id")
    },
    // g3: train/val/test corpus split by hash bucket (80/10/10) with
    // per-split document and byte counts — the split is a deterministic
    // function of doc_id alone, so adding documents never reshuffles
    // existing assignments.
    "g3_corpus_split" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .withColumn("bucket", (($"doc_id" % P) * 48271L + 7L) % P % 100L)
        .withColumn("split",
          when($"bucket" < 80, "train").when($"bucket" < 90, "val")
            .otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
             sum(octet_length($"text").cast("long")).as("n_bytes"))
        .orderBy($"split")
    },
    // g4: token-budget SHARD PACKING — assign documents to fixed-size output
    // shards (≤ ~2000 chars each) per language, in doc_id order:
    // shard = exclusive-prefix-sum(n_chars) div budget. The naive plan is a
    // per-language running sum — a 5-partition window at 100 TB. This uses
    // the ScaleOps two-pass shape instead: bucket doc_id into 32 ranges
    // (order-preserving), aggregate one row per (lang, bucket), cumulative
    // offsets over that TINY frame (≤ 5×32 rows), broadcast back, and run
    // the real window partitioned by (lang, bucket) — every sort is
    // per-bucket, the widest shuffle is the bucket hash.
    "g4_shard_packing" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"lang", $"n_chars")
      val bounds = docs.agg(min($"doc_id").as("_lo"), max($"doc_id").as("_hi"))
      val bucketed = docs.crossJoin(broadcast(bounds))
        .withColumn("_bkt",
          least(floor(($"doc_id" - $"_lo") * 32 / ($"_hi" - $"_lo" + 1)),
                lit(31)).cast("int"))
        .drop("_lo", "_hi")
      val perBucket = bucketed.groupBy($"lang", $"_bkt")
        .agg(sum($"n_chars").as("_bsum"))
      val wPrev = Window.partitionBy($"lang").orderBy($"_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = perBucket
        .withColumn("_off", coalesce(sum($"_bsum").over(wPrev), lit(0L)))
        .select($"lang", $"_bkt", $"_off")
      val wIn = Window.partitionBy($"lang", $"_bkt").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(broadcast(offsets), Seq("lang", "_bkt"))
        .withColumn("_prefix", $"_off" + coalesce(sum($"n_chars").over(wIn), lit(0L)))
        .withColumn("shard", expr(s"_prefix div $ShardBudget"))
        .groupBy($"lang", $"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars_total"),
             min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"lang", $"shard")
    },
    // g18: CONTEXT-WINDOW SEQUENCE PACKING MAP — the concat-then-chunk
    // layout GPT-style pretraining uses: documents are laid end-to-end in
    // doc_id order and cut every 512 tokens; the op emits, per document,
    // its global token offset and the span of context windows it occupies
    // (win_start..win_end, offset inside the first window) — the map a
    // loader needs to materialize training examples without re-tokenizing.
    // The naive plan is a GLOBAL running sum — a single-partition window at
    // 100 TB — so the prefix reuses g4's two-pass shape: bucket the doc_id
    // RANGE into 32 order-preserving slices, aggregate one row per bucket,
    // cumulate offsets over that 32-row frame, then window only within
    // buckets (g4's proof transfers: range-bucketing preserves doc_id
    // order, so bucket-offset + in-bucket prefix == the serial prefix).
    // Empty docs still advance zero tokens but occupy one window slot
    // (greatest(n_tok,1) caps win_end at win_start — no empty span).
    "g18_sequence_packing" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", expr(s"size(${Tx.wsExpr})").cast("long").as("n_tok"))
      val bounds = docs.agg(min($"doc_id").as("_lo"), max($"doc_id").as("_hi"))
      val bucketed = docs.crossJoin(broadcast(bounds))
        .withColumn("_bkt",
          least(floor(($"doc_id" - $"_lo") * 32 / ($"_hi" - $"_lo" + 1)),
                lit(31)).cast("int"))
        .drop("_lo", "_hi")
      val perBucket = bucketed.groupBy($"_bkt").agg(sum($"n_tok").as("_bsum"))
      val wPrev = Window.orderBy($"_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = perBucket
        .withColumn("_off", coalesce(sum($"_bsum").over(wPrev), lit(0L)))
        .select($"_bkt", $"_off")
      val wIn = Window.partitionBy($"_bkt").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(broadcast(offsets), Seq("_bkt"))
        .withColumn("start_tok",
          $"_off" + coalesce(sum($"n_tok").over(wIn), lit(0L)))
        .withColumn("win_start", expr("start_tok div 512"))
        .withColumn("win_end",
          expr("(start_tok + greatest(n_tok, 1) - 1) div 512"))
        .select($"doc_id", $"n_tok", $"start_tok", $"win_start", $"win_end",
          expr("start_tok % 512").as("off_in_win"),
          ($"win_end" - $"win_start" + 1).as("n_wins"))
        .orderBy($"doc_id")
    },
    // g19: BOUNDARY-RESPECTING BIN PACKING — g18's contamination-free
    // twin: whole documents packed into 512-token windows with NO document
    // crossing a window boundary (what clean attention masking wants;
    // g18's concat-then-chunk splits docs across windows). Greedy
    // first-fit-decreasing is inherently serial (each placement depends on
    // every earlier bin's residual), so this ships the standard
    // distributed shape — HARMONIC CLASS PACKING: a doc of n_tok tokens
    // lands in class k = 512 div n_tok, and any k docs of class k fit one
    // window by construction (each ≤ 512/k tokens); within a class,
    // window index = rank div k where rank is the doc_id-order rank.
    // Oversize docs (n_tok > 512) form class 0 with capacity 1 — each gets
    // a dedicated window the loader truncates. Scale shape (100 TB): the
    // within-class rank reuses g4's two-pass machinery keyed by
    // (cls, doc_id-range bucket) — per-cell counts (≤ 513 classes × 32
    // buckets) cumulate on a broadcastable frame, the real window runs per
    // (cls, _bkt); class→window offsets cumulate over the ≤513-row class
    // frame. No data-scale sort anywhere, and unlike serial FFD the
    // assignment is embarrassingly parallel once the tiny offset frames
    // broadcast. Quality: harmonic packing trades bin count (≤ ~1.7×
    // optimal worst-case vs FFD's ~1.22×) for a closed form;
    // SequencePackingSpec measures the realized ratio vs serial FFD and
    // pins capacity/no-split invariants plus exact equality to a serial
    // replay of the same class algorithm.
    "g19_boundary_pack" -> { (s, dir) =>
      import s.implicits._
      // round-15: persist the token-count frame (g26's discipline) —
      // binPack consumes it three times (bounds agg, per-cell counts, the
      // final join), so the tokenize ran 3× on the single-split scan
      binPack(Tables(s, dir).documents
        .select($"doc_id", expr(s"size(${Tx.wsExpr})").cast("long").as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        .orderBy($"doc_id")
    },
    // g26: CONTEXT-WINDOW UTILIZATION SWEEP — the measured dial for
    // max_seq_len (the sweep convention: v22 probes, v26 hops, d20
    // bands): g19's boundary-respecting class packing run at 256/512/
    // 1024-token windows, each reporting window count and token
    // utilization (packed tokens ÷ window capacity, integer bp; oversize
    // docs occupy one window and count capacity-capped — truncation is
    // the downstream trainer's call, the waste is what this measures).
    // Small windows waste less padding but cost more sequence breaks;
    // the sweep is the number a pretraining team reads before fixing W.
    // One persisted token-count scan feeds all three sweep points; each
    // point is g19's plan (bounded class windows, never data-scale).
    "g26_window_sweep" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", expr(s"size(${Tx.wsExpr})").cast("long").as("n_tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // round-15: the three sweep widths are independent bin-pack chains
      // over the SAME cached tokenization — run them concurrently
      // (graft.Par.legs) instead of as three sequential ~10-job trains
      graft.Par.legs(Seq(256, 512, 1024).map(w => () =>
        binPack(docs, w)
          .agg(count(lit(1)).as("n_docs"),
               countDistinct($"win_id").as("n_windows"),
               sum(least($"n_tok", lit(w.toLong))).as("packed_tok"))
          .select(lit(w.toLong).as("window"), $"n_docs", $"n_windows",
                  expr(s"packed_tok * 10000 div (n_windows * $w)").as("util_bp"))
      ): _*).reduce(_ unionByName _).orderBy($"window")
    },
    // g20: CELL-BALANCED DIVERSITY SAMPLE — semantic-coverage subsetting
    // (the cluster-balanced selection diversity-aware curation uses):
    // uniform sampling reproduces the corpus's cluster imbalance, so
    // instead keep at most Quota docs per quantizer CELL, chosen in
    // deterministic LCG-permutation order (g5's key — unbiased within
    // the cell, reproducible, append-stable). Over-represented clusters
    // (boilerplate, template farms) cap at Quota; thin clusters survive
    // whole — the output cell histogram is min(|cell|, Quota), the
    // flattest semantic coverage a hard cap gives. Scale shape (100 TB):
    // cell assignment is the literal-centroid projection (no shuffle);
    // the pick is one window keyed by cell, and cells are CellTarget-
    // sized by construction, so no window partition exceeds ~CellTarget
    // rows — never a data-skewed sort.
    "g20_cell_balanced_sample" -> { (s, dir) =>
      import s.implicits._
      val e = Tables(s, dir).embeddings
        .withColumn("v", $"embedding".cast("array<double>"))
        .withColumn("norm2", graft.functions.VectorExprs.dot($"v", $"v"))
        .select($"vec_id", $"v", $"norm2")
      val cents = Quantizer.centroidsFor(e, dir, iters = 2, dim = 64)
      val quota = Quantizer.CellTarget / 4
      val w = Window.partitionBy($"cell").orderBy($"key", $"vec_id")
      Quantizer.assign(e, cents)
        .select($"vec_id", $"cell",
          ((($"vec_id" % P) * 48271L + 13L) % P).as("key"))
        .withColumn("pick", row_number().over(w).cast("long"))
        .filter($"pick" <= quota)
        .select($"vec_id", $"cell".cast("long").as("cell"), $"pick")
        .orderBy($"vec_id")
    },
    // q9: per-group QUANTILE FILTER — keep documents at or above their
    // language's median length. The median is computed from the VALUE
    // HISTOGRAM (groupBy (lang, n_chars) → counts, cumulative over distinct
    // values), not from percentile()'s in-memory value buffer: the window
    // runs over histogram rows (distinct values per lang), never documents,
    // so exact per-group quantiles stay tractable when one lang holds 10^10
    // docs. (v_lo + v_hi) / 2.0 is one IEEE op on exact integers — bitwise
    // equal to DuckDB's quantile_cont interpolation at p = 0.5.
    "q9_quantile_filter" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"lang", $"n_chars")
      val h = docs.groupBy($"lang", $"n_chars").agg(count(lit(1)).as("c"))
      val n = h.groupBy($"lang").agg(sum($"c").as("n"))
      val wCum = Window.partitionBy($"lang").orderBy($"n_chars")
      val cum = h.withColumn("cum", sum($"c").over(wCum))
        .join(broadcast(n), Seq("lang"))
      // 0-based positions of the two middle values; value at position k is
      // the smallest n_chars whose cumulative count reaches k + 1
      val lo = cum.filter($"cum" >= expr("(n - 1) div 2") + 1)
        .groupBy($"lang").agg(min($"n_chars").as("v_lo"))
      val hi = cum.filter($"cum" >= expr("n div 2") + 1)
        .groupBy($"lang").agg(min($"n_chars").as("v_hi"))
      val med = lo.join(hi, Seq("lang"))
        .select($"lang", (($"v_lo" + $"v_hi") / 2.0).as("p50"))
      docs.join(broadcast(med), Seq("lang"))
        .groupBy($"lang")
        .agg(max($"p50").as("p50"), count(lit(1)).as("n_total"),
             sum(when($"n_chars" >= $"p50", 1L).otherwise(0L)).as("n_kept"))
        .withColumn("frac_kept", $"n_kept".cast("double") / $"n_total")
        .orderBy($"lang")
    },
    // g5: deterministic SHUFFLE-SHARD assignment — the reproducible global
    // permutation a training-data loader consumes: key = LCG permutation of
    // doc_id (injective mod P, so no ties), shard = key % 16, pos = rank of
    // key within shard. A shard-wide row_number is a 16-partition global
    // sort at 100 TB, so pos uses the same two-pass shape as g4: bucket the
    // key RANGE into 32 order-preserving slices, count one row per
    // (shard, bucket), cumulate offsets over that tiny frame, and
    // row_number only within (shard, bucket). Re-runs and engine changes
    // reproduce the identical permutation — the resumability property.
    "g5_shuffle_shard" -> { (s, dir) =>
      import s.implicits._
      val keyed = Tables(s, dir).documents
        .select($"doc_id",
          ((($"doc_id" % P) * 48271L + 13L) % P).as("key"))
        .withColumn("shard", $"key" % 16)
        .withColumn("_bkt", expr(s"key div ${P / 32 + 1}").cast("int"))
      val wOff = Window.partitionBy($"shard").orderBy($"_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy($"shard", $"_bkt").agg(count(lit(1)).as("_c"))
        .withColumn("_off", coalesce(sum($"_c").over(wOff), lit(0L)))
        .select($"shard", $"_bkt", $"_off")
      val wIn = Window.partitionBy($"shard", $"_bkt").orderBy($"key")
      keyed.join(broadcast(offsets), Seq("shard", "_bkt"))
        .withColumn("pos", $"_off" + row_number().over(wIn).cast("long"))
        .select($"doc_id", $"shard", $"pos")
        .orderBy($"doc_id")
    },
    // g6: LANGUAGE-MIXTURE sampling — resample the corpus toward target
    // language weights (en 40 / de·es·fr·zh 15 each, total budget 200):
    // per-lang keep-rate = min(1, target·10000 // count) basis points,
    // applied as a row-local hash predicate. Counts are a tiny per-lang
    // aggregate broadcast back; selection is deterministic (no rand()), so
    // the sampled corpus is reproducible and append-stable. Reported per
    // lang: corpus size, target, and what the deterministic filter kept.
    "g6_mixture_sample" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"lang")
      val rates = docs.groupBy($"lang").agg(count(lit(1)).as("n_total"))
        .withColumn("target_n",
          expr(s"($MixtureBudget * ${weightCase("lang")}) div 100").cast("long"))
        .withColumn("rate_bp", least(lit(10000L), expr("target_n * 10000 div n_total")))
      docs.join(broadcast(rates), Seq("lang"))
        .withColumn("b", (($"doc_id" % P) * 48271L + 29L) % P % 10000L)
        .groupBy($"lang")
        .agg(max($"n_total").as("n_total"), max($"target_n").as("target_n"),
             sum(when($"b" < $"rate_bp", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"lang")
    },
    // g15: STRATIFIED TRAIN/VAL/TEST SPLIT — the assignment every training
    // pipeline runs last: a deterministic 80/10/10 split, stratified per
    // language so low-resource langs keep eval coverage. split =
    // LCG(doc_id) % 100 against fixed thresholds — a pure per-row
    // projection (zero shuffle, reproducible across runs/engines, stable
    // under corpus growth: adding docs never reassigns existing ones —
    // the property random-sort splits lack). Report = per (lang, split)
    // count + doc_id-sum checksum; the splits are disjoint+exhaustive BY
    // CONSTRUCTION (one hash, three disjoint ranges), which the checksum
    // pins: per-lang split sums must re-add to the whole-lang sum.
    "g15_stratified_split" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents.select($"doc_id", $"lang")
        .withColumn("b", (($"doc_id" % P) * 48271L + 37L) % P % 100L)
        .withColumn("split",
          when($"b" < 80, "train").when($"b" < 90, "val").otherwise("test"))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
        .orderBy($"lang", $"split")
    },
    // g16: EXACT-n STRATIFIED SAMPLE — where g15 samples a PROPORTION,
    // eval-set construction needs EXACTLY n docs per stratum. The naive
    // form (row_number over hash per language) is a data-scale window on
    // a 5-partition key — the anti-pattern PlanAudit bans. The scale
    // form: the n-th smallest LCG hash per language is an ORDER STATISTIC
    // (ScaleOps.orderStats — two bucketed passes, no language-wide sort),
    // broadcast back as a threshold filter. The LCG is a PERMUTATION mod
    // P, so hashes are distinct and `h ≤ h_(n)` selects exactly
    // min(n, |stratum|) docs — deterministic, reproducible, and stable
    // in expectation-free exactness at any corpus size.
    "g16_exact_sample" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"lang")
        .withColumn("h", (($"doc_id" % P) * 48271L + 41L) % P)
      val thr = ScaleOps.orderStats(docs, "lang", "h",
          Seq(("k", "least(n - 1, 19)")))
        .select($"lang", $"value".as("thr"))
      docs.join(broadcast(thr), Seq("lang"))
        .filter($"h" <= $"thr")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("id_sum"))
        .orderBy($"lang")
    },
    // g13: TEMPERATURE-SCALED MIXTURE (α = 0.5) — the UniMax/multilingual
    // sampling shape: where g6 takes OPERATOR-SUPPLIED weights, here the
    // rates derive FROM the corpus itself — w_l = floor(√n_l), so tails
    // upsample relative to proportional sampling (α = 1) without the
    // operator hand-tuning per-language weights; targets are
    // B·w_l div Σw_l. floor(sqrt(n)) is ONE correctly-rounded IEEE op on
    // an exactly-representable integer — engine-identical — and every
    // step after is integer arithmetic. Scale shape: the weight table is
    // a |langs|-row aggregate broadcast back; selection is g6's per-row
    // hash threshold — one scan plus one tiny agg at any corpus size.
    "g13_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"lang")
      val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_total"))
        .withColumn("w",
          expr("cast(floor(sqrt(cast(n_total as double))) as bigint)"))
      val rates = counts.crossJoin(broadcast(counts.agg(sum($"w").as("w_sum"))))
        .withColumn("target_n", expr(s"$MixtureBudget * w div w_sum"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("target_n * 10000 div n_total")))
      docs.join(broadcast(rates), Seq("lang"))
        .withColumn("b", (($"doc_id" % P) * 48271L + 29L) % P % 10000L)
        .groupBy($"lang")
        .agg(max($"n_total").as("n_total"), max($"w").as("weight"),
             max($"target_n").as("target_n"),
             sum(when($"b" < $"rate_bp", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"lang")
    },
    // g21: EPOCH-AWARE MIXTURE PLAN (upsampling) — g6/g13 only ever
    // DOWNSAMPLE (keep-rate capped at 10000 bp); a real pretraining
    // recipe UPsamples scarce domains past 1.0 epochs (the Llama/Pile
    // shape: "wikipedia ×3.. epochs"). The plan per domain, all integer:
    // token budget B = 1.5× the corpus (derived FROM the corpus so the
    // entry is SF-invariant), target = B·w_l div 100 with g6's weight
    // table, full_epochs = target div corpus (whole-corpus repeats —
    // repeats cost ZERO plan-time work at 100 TB: a repeat factor in the
    // manifest, never a data copy), and the fractional tail becomes g6's
    // deterministic hash keep-rate in bp over ONE extra pass. Scale
    // shape: one global sum + one per-lang aggregate broadcast back, one
    // scan for the achieved partial-epoch chars — no shuffle beyond the
    // map-side-combined groupBy(lang).
    "g21_epoch_plan" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents.select($"doc_id", $"lang", $"n_chars")
      val tot = docs.agg(sum($"n_chars").as("tot"))
      val plan = docs.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("nc"))
        .crossJoin(broadcast(tot))
        .withColumn("target_chars",
          expr(s"(tot * 3 div 2) * ${weightCase("lang")} div 100"))
        .withColumn("full_epochs", expr("target_chars div nc"))
        .withColumn("rem_rate_bp",
          expr("(target_chars - full_epochs * nc) * 10000 div nc"))
      val partial = docs
        .withColumn("b", (($"doc_id" % P) * 48271L + 53L) % P % 10000L)
        .join(broadcast(plan.select($"lang", $"rem_rate_bp")), Seq("lang"))
        .groupBy($"lang")
        .agg(sum(when($"b" < $"rem_rate_bp", $"n_chars").otherwise(0L))
          .as("partial_chars"))
      plan.join(partial, Seq("lang"))
        .select($"lang", $"n_docs", $"nc".as("corpus_chars"), $"target_chars",
                $"full_epochs", $"rem_rate_bp",
                ($"full_epochs" * $"nc" + $"partial_chars").as("planned_chars"))
        .orderBy($"lang")
    },
    // g22: PARETO FRONTIER (2-D skyline) — the multi-objective selection
    // question budgeted curation keeps asking: which docs pack MORE clean
    // content (d19's integer clean-char score, maximize) into FEWER
    // characters (minimize) than every alternative? A doc is on the
    // frontier iff no other doc weakly dominates it (≤ chars, ≥ quality,
    // one strict). The naive form is an all-pairs anti-join; the sorted
    // 1-D reduction is exact: per-length maxima Meq(c), then a running
    // strict-prior max Mlt(c) — a point survives iff q = Meq(c) AND
    // q > Mlt(c). Scale shape (100 TB): ONE map-side-combined groupBy
    // reduces the corpus to ≤|distinct lengths| rows; the dominance
    // window runs over THAT bounded value domain (dq10's allowlisted
    // class), and the survivors semi-join back via a broadcast. No
    // all-pairs, no global sort of data.
    "g22_pareto_frontier" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", $"n_chars",
          expr(s"cast(${Dedup.cleanCharsSql(spark = true)} as bigint)").as("q"))
      val meq = docs.groupBy($"n_chars").agg(max($"q").as("meq"))
      val wLt = org.apache.spark.sql.expressions.Window
        .orderBy($"n_chars").rowsBetween(Long.MinValue, -1)
      val front = meq
        .withColumn("mlt", coalesce(max($"meq").over(wLt), lit(-1L)))
        .filter($"meq" > $"mlt")
        .select($"n_chars", $"meq")
      docs.join(broadcast(front), Seq("n_chars"))
        .filter($"q" === $"meq")
        .groupBy($"n_chars", $"meq")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("exemplar"))
        .select($"n_chars", $"meq".as("clean_chars"), $"n_docs", $"exemplar")
        .orderBy($"n_chars")
    },
    // g7: Z-ORDER LAYOUT for data skipping — the multi-dimensional
    // clustering a 100 TB store applies so that per-file min/max zone maps
    // prune scans for predicates on EITHER dimension (the Delta/Iceberg
    // OPTIMIZE ZORDER idea). Two 8-bit keys — x = user bucket, y = 6-minute
    // slot of day — interleave bit-by-bit into a 16-bit z-value (pure
    // integer div/mod arithmetic, unrolled, identical on both engines);
    // shard = z div 4096 assigns 16 range-contiguous files WITHOUT a global
    // sort (the z prefix IS the range), each row a pure projection. The
    // output is each file's zone map: by the z-curve's construction every
    // shard's bounding box spans ≤ 64 of 256 x-values and ≤ 64 of 240
    // y-slots — a predicate on either dimension prunes ~3/4 of the files,
    // which a 1-D sort can only provide for its leading column. x_span /
    // y_span carry that guarantee through the oracle gate.
    "g7_zorder_layout" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .select(expr("user_id % 256").as("x"),
                expr("(hour(ts) * 60 + minute(ts)) div 6").as("y"))
        .withColumn("z", expr(zInterleave("x", "y", div = "div")))
        .withColumn("shard", expr("z div 4096"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n"),
             min($"x").as("min_x"), max($"x").as("max_x"),
             min($"y").as("min_y"), max($"y").as("max_y"))
        .withColumn("x_span", $"max_x" - $"min_x" + 1)
        .withColumn("y_span", $"max_y" - $"min_y" + 1)
        .orderBy($"shard")
    },
    // g14: 3-COLUMN Z-ORDER — g7's interleave extended to the (date-ish,
    // user, amount) trio a real fact table filters on: x = user bucket,
    // y = 6-minute slot of day, w = order-preserving amount bucket
    // (cents div 192, capped — 490.02 max value → 0..255, so RANGE
    // predicates on value map to w ranges). Bits triple-interleave into a
    // 24-bit z (x at 8^b·1, y at 8^b·2, w at 8^b·4); shard = z div 2^20
    // → ≤16 range-contiguous files whose top-4 fixed bits are (w₇ y₇ x₇
    // w₆): every file's zone map spans ≤ 128/256 x, ≤ 128/240 y, AND
    // ≤ 64/256 w — a predicate on ANY of the three dimensions prunes,
    // which a 1-D sort gives only its leading column and 2-D z-order only
    // two. Still a pure per-row projection — no global sort; the curve
    // prefix IS the range. Escalation documented in SURVEY §6: beyond
    // ~4 dims the per-dim span guarantee degrades as range/2^(bits/dims)
    // — Hilbert improves locality constants, not that exponent.
    "g14_zorder3_layout" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .select(expr("user_id % 256").as("x"),
                expr("(hour(ts) * 60 + minute(ts)) div 6").as("y"),
                expr("least(255L, cast(round(value * 100) as bigint) div 192)").as("w"))
        .withColumn("z", expr(zInterleave3("x", "y", "w", div = "div")))
        .withColumn("shard", expr("z div 1048576"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n"),
             min($"x").as("min_x"), max($"x").as("max_x"),
             min($"y").as("min_y"), max($"y").as("max_y"),
             min($"w").as("min_w"), max($"w").as("max_w"))
        .withColumn("x_span", $"max_x" - $"min_x" + 1)
        .withColumn("y_span", $"max_y" - $"min_y" + 1)
        .withColumn("w_span", $"max_w" - $"min_w" + 1)
        .orderBy($"shard")
    },
    // g17: HILBERT-CURVE LAYOUT — g14's documented 3-dim escalation. At
    // bit-aligned shard boundaries Hilbert and z-order cut IDENTICAL
    // bounding boxes (both reduce to whole subcubes), so the aligned gate
    // cannot separate them; the production difference appears under
    // EQUAL-FREQUENCY packing (what a real writer does: equal-size files
    // along the curve, boundaries wherever the row count falls). There a
    // z-curve file straddling an octant jump spans a whole axis, while
    // every contiguous Hilbert segment stays compact — the curve moves one
    // grid step at a time (HilbertLayoutSpec proves bijection + unit-step
    // adjacency exhaustively at 2 and 3 bits/dim, and pins
    // Σspans(hilbert) < Σspans(z) on this packing: ~18% tighter on events).
    // Pipeline: h = 24-bit Hilbert index of (x, y, w) via Skilling's
    // transform ("Programming the Hilbert curve", AIP 704, 2004) — 7
    // unrolled undo rounds + gray code + interleave, integer-only chained
    // projections (no UDF, no sort, codegen-friendly straight-line code);
    // file boundaries = 15 EXACT order statistics of h (g8's two-scan
    // orderStats — no data-scale window); file = # boundaries below h
    // (one broadcast 15-value array per row). Per-file spans feed the same
    // zone-map gate as g14.
    "g17_hilbert_layout" -> { (s, dir) =>
      import s.implicits._
      // persisted: the ~60-op Hilbert bit chain feeds BOTH the boundary
      // scan and the final file-assignment pass — cache the 4-column
      // result instead of running the chain twice (d16's precedent;
      // ContextCleaner reclaims it)
      val pts = hilbertIndex(
        // round-15: eventsSpread RE-A/B'd and REJECTED again, now with the
        // mechanism: the repartition exchange under the persist makes every
        // orderStats consumer MISS the cache and re-run the bit chain
        // (stage profile: 6 consumer stages × 2-5 CPU-s each vs ~0 on cache
        // hits without the spread) — stays on the plain accessor
        Tables(s, dir).events.select(
          expr("user_id % 256").as("x"),
          expr("(hour(ts) * 60 + minute(ts)) div 6").as("y"),
          expr("least(255L, cast(round(value * 100) as bigint) div 192)").as("w")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bounds = ScaleOps.orderStats(pts.withColumn("g", lit(1)), "g", "h",
          (1 to 15).map(k => (f"b$k%02d", s"((n - 1) * $k) div 16")))
        .groupBy().agg(sort_array(collect_list($"value")).as("bs"))
      pts.crossJoin(broadcast(bounds))
        .withColumn("file", expr(
          "aggregate(bs, 0L, (acc, b) -> acc + if(h > b, 1L, 0L))"))
        .groupBy($"file")
        .agg(count(lit(1)).as("n"),
             min($"x").as("min_x"), max($"x").as("max_x"),
             min($"y").as("min_y"), max($"y").as("max_y"),
             min($"w").as("min_w"), max($"w").as("max_w"))
        .withColumn("x_span", $"max_x" - $"min_x" + 1)
        .withColumn("y_span", $"max_y" - $"min_y" + 1)
        .withColumn("w_span", $"max_w" - $"min_w" + 1)
        .orderBy($"file")
    },
    // g10: RANGE-SORTED PHYSICAL LAYOUT — the 1-dim sibling of g7's
    // z-order: repartitionByRange(o_orderdate) writes files whose
    // [min,max] date intervals are PAIRWISE DISJOINT (equal keys land in
    // one partition by construction), which is what makes parquet
    // zone-map / min-max skipping effective: a date-range scan prunes to
    // the few files whose interval intersects it. The query inspects the
    // REAL written files (input_file_name) and certifies disjointness +
    // row preservation. At 100 TB this is the default sort-on-write for
    // time-keyed facts; range boundaries come from a driver-side sample
    // (one extra sampling pass — amortized, the layout is written once).
    "g10_range_layout" -> { (s, dir) =>
      import s.implicits._
      val p = Scratch.staged(s"orders_range#$dir", "range_orders") { path =>
        Tables(s, dir).orders
          .repartitionByRange(8, $"o_orderdate")
          .write.mode("overwrite").parquet(path)
      }
      val perFile = graft.Scratch.parquet(s, p)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"),
             min($"o_orderdate").as("lo"), max($"o_orderdate").as("hi"))
      val w = Window.orderBy($"lo", $"hi", $"f")
      perFile.withColumn("prev_hi", lag($"hi", 1).over(w))
        .withColumn("overlap",
          $"prev_hi".isNotNull && $"lo" <= $"prev_hi")
        .agg(count(lit(1)).as("n_files"), sum($"n").as("n_rows"),
             (sum($"overlap".cast("long")) === 0L).as("disjoint"))
    },
    // g8: EQUI-DEPTH DISCRETIZATION — per-group decile boundaries of the
    // price distribution (cents, the proven round(x·100) projection), the
    // binning model feature preprocessing and range-partition planning
    // both consume. Exact order statistics at positions ((n−1)·q) div 10
    // through ScaleOps.orderStats — two scans, tiny bucket tables, no
    // whole-group sort — so the boundaries stay exact on 10^10-row groups
    // of near-unique values. The oracle ranks explicitly (row_number − 1 =
    // target position), pinning the same type-1 quantile definition.
    "g8_equidepth_bins" -> { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_returnflag".as("grp"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      ScaleOps.orderStats(li, "grp", "cents",
          (1 to 9).map(q => (s"d$q", s"((n - 1) * $q) div 10")))
        .select($"grp", $"tag".as("decile"), $"value".as("cents_at"))
        .orderBy($"grp", $"decile")
    },
    // g11: WINSORIZATION — clip a heavy-tailed numeric column at exact
    // per-group p5/p95 before it feeds a model (the outlier-capping pass
    // a feature pipeline runs where dropping rows would bias the sample).
    // The two bound order statistics come from ScaleOps.orderStats (g8's
    // two-pass bucketed machinery — no window ever sees more than a
    // bucket), the bounds BROADCAST back (k rows per group), and the clip
    // itself is one scan: least/greatest per row, exact BIGINT cents
    // throughout. The oracle recomputes the bounds with the textbook
    // whole-group rank and must land on identical clipped sums.
    "g11_winsorize" -> { (s, dir) =>
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_returnflag".as("grp"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val b = ScaleOps.orderStats(li, "grp", "cents",
          Seq(("lo", "((n - 1) * 5) div 100"), ("hi", "((n - 1) * 95) div 100")))
        .groupBy($"grp")
        .agg(min(when($"tag" === "lo", $"value")).as("lo"),
             min(when($"tag" === "hi", $"value")).as("hi"))
      li.join(broadcast(b), Seq("grp"))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n"),
             sum(($"cents" < $"lo").cast("long")).as("n_clip_low"),
             sum(($"cents" > $"hi").cast("long")).as("n_clip_high"),
             sum(least(greatest($"cents", $"lo"), $"hi")).as("sum_winsorized"),
             min($"lo").as("p5_cents"), max($"hi").as("p95_cents"))
        .orderBy($"grp")
    },
    // g9: INCREMENTAL Z-ORDER MAINTENANCE — g7 builds the layout; g9 keeps
    // it current when a batch lands WITHOUT touching the base table: zone
    // maps are (count, min, max) per shard, all mergeable aggregates, so
    // base stats (staged table state, the v9/a6 pattern) merge with the
    // batch's delta stats by a tiny per-shard combine. The oracle
    // recomputes the layout over the FULL table, so a green row proves
    // merge(base, delta) == rebuild — the incremental-OPTIMIZE property;
    // per-batch work is |batch| + |shards|, independent of table size.
    "g9_zorder_maintain" -> { (s, dir) =>
      import s.implicits._
      def shardStats(df: DataFrame): DataFrame =
        df.select(expr("user_id % 256").as("x"),
                  expr("(hour(ts) * 60 + minute(ts)) div 6").as("y"))
          .withColumn("z", expr(zInterleave("x", "y", div = "div")))
          .withColumn("shard", expr("z div 4096"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n"),
               min($"x").as("min_x"), max($"x").as("max_x"),
               min($"y").as("min_y"), max($"y").as("max_y"))
      val basePath = graft.Scratch.staged(s"zorder_base#$dir", "zorder_base") { p =>
        shardStats(Tables(s, dir).events
            .filter(pmod($"event_id", lit(10)) =!= 7))
          .write.mode("overwrite").parquet(p)
      }
      val delta = shardStats(Tables(s, dir).events
        .filter(pmod($"event_id", lit(10)) === 7))
      graft.Scratch.parquet(s, basePath).unionByName(delta)
        .groupBy($"shard")
        .agg(sum($"n").as("n"),
             min($"min_x").as("min_x"), max($"max_x").as("max_x"),
             min($"min_y").as("min_y"), max($"max_y").as("max_y"))
        .withColumn("x_span", $"max_x" - $"min_x" + 1)
        .withColumn("y_span", $"max_y" - $"min_y" + 1)
        .orderBy($"shard")
    },
    // g1: per-nation sorted list of supplier names (deterministic array agg).
    // Comma-joined, not ARRAY-typed: the driver's compare (pandas sort +
    // hash) cannot process array cells; the joined string carries the same
    // values in the same sorted order.
    // g12: CONSISTENT-HASH RESHARDING — what moves when a 10-shard corpus
    // layout grows to 11 shards. Each doc maps to the ring successor of
    // md5(doc_id) among 8 virtual nodes per shard; the rings are LITERAL
    // sorted arrays (the vnode positions are md5 of constant labels,
    // computed once on the driver and embedded in the plan), so
    // assignment under BOTH rings is a pure per-row projection — zero
    // shuffle, zero join, the whole operator is scan→project→aggregate
    // at any corpus size. Ring positions compare as fixed-width hex
    // strings (lexicographic = numeric). The mod-N columns quantify why
    // the ring wins: mod-rehash moves ~10/11 of every shard, the ring
    // moves ~1/12 — the report a storage-layout migration plans against.
    "g12_reshard_plan" -> { (s, dir) =>
      import s.implicits._
      val (p10, s10) = ringLits(10)
      val (p11, s11) = ringLits(11)
      def assign(posArr: String, shardArr: String, n: Int): String =
        s"element_at($shardArr, (size(filter($posArr, p -> p < dpos)) % $n) + 1)"
      Tables(s, dir).documents
        .select($"doc_id", md5($"doc_id".cast("string")).as("dpos"))
        .withColumn("old_shard", expr(assign(p10, s10, 80)).cast("long"))
        .withColumn("new_shard", expr(assign(p11, s11, 88)).cast("long"))
        .groupBy($"old_shard")
        .agg(count(lit(1)).as("n_docs"),
             sum(($"old_shard" =!= $"new_shard").cast("long")).as("n_moved_ring"),
             sum(($"doc_id" % 10 =!= $"doc_id" % 11).cast("long")).as("n_moved_mod"))
        .orderBy($"old_shard")
    },
    "g1_array_agg" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).supplier
        .groupBy($"s_nationkey")
        .agg(array_join(sort_array(collect_list($"s_name")), ",").as("names"),
             count(lit(1)).as("n"))
        .orderBy($"s_nationkey")
    }
  )

  /** g7's bit interleave, emitted for both engines: z = Σ_b x_b·4^b·1 +
    * y_b·4^b·2 over 8 bits, as pure div/mod integer arithmetic (`div` is
    * Spark's integral division, `//` DuckDB's — identical on non-negative
    * operands). */
  private def zInterleave(x: String, y: String, div: String): String =
    (0 until 8).map { b =>
      s"(($x $div ${1L << b}) % 2) * ${1L << (2 * b)} + " +
        s"(($y $div ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
    }.mkString("(", " + ", ")")

  /** g14's 3-way interleave: dim bits at octal-digit weights 1 (x), 2 (y),
    * 4 (w) — same div/mod arithmetic as [[zInterleave]], shared verbatim by
    * both engines. */
  private def zInterleave3(x: String, y: String, w: String, div: String): String =
    (0 until 8).map { b =>
      s"(($x $div ${1L << b}) % 2) * ${1L << (3 * b)} + " +
        s"(($y $div ${1L << b}) % 2) * ${1L << (3 * b + 1)} + " +
        s"(($w $div ${1L << b}) % 2) * ${1L << (3 * b + 2)}"
    }.mkString("(", " + ", ")")

  /** Skilling's axes→Hilbert-transpose ("Programming the Hilbert curve",
    * AIP Conf. Proc. 707, 2004) unrolled for 8 bits × 3 dims as a chain of
    * integer expression LEVELS over working columns x0/x1/x2 (+ one-level
    * temp t). Each level maps column → expression over the previous
    * level's columns; both engines consume the same strings — only the
    * xor spelling differs (Spark `^`, DuckDB xor()). */
  private[graft] def hilbertLevels(xor: (String, String) => String): Seq[Map[String, String]] = {
    val qs = Seq(128, 64, 32, 16, 8, 4, 2)
    val undo = qs.flatMap { q =>
      val p = (q - 1).toString
      val e1 = s"(${xor("x0", "x1")} & $p)"
      val e2 = s"(${xor("x0", "x2")} & $p)"
      Seq(
        // i = 0: exchange-with-self is the identity, only the invert arm
        Map("x0" -> s"CASE WHEN (x0 & $q) <> 0 THEN ${xor("x0", p)} ELSE x0 END"),
        Map(
          "x0" -> s"CASE WHEN (x1 & $q) <> 0 THEN ${xor("x0", p)} ELSE ${xor("x0", e1)} END",
          "x1" -> s"CASE WHEN (x1 & $q) <> 0 THEN x1 ELSE ${xor("x1", e1)} END"),
        Map(
          "x0" -> s"CASE WHEN (x2 & $q) <> 0 THEN ${xor("x0", p)} ELSE ${xor("x0", e2)} END",
          "x2" -> s"CASE WHEN (x2 & $q) <> 0 THEN x2 ELSE ${xor("x2", e2)} END"))
    }
    val gray = Seq(Map("x1" -> xor("x1", "x0")), Map("x2" -> xor("x2", "x1")))
    val tExpr = qs.foldLeft("0") { (acc, q) =>
      xor(acc, s"(CASE WHEN (x2 & $q) <> 0 THEN ${q - 1} ELSE 0 END)") }
    undo ++ gray ++ Seq(Map("t" -> tExpr),
      Map("x0" -> xor("x0", "t"), "x1" -> xor("x1", "t"), "x2" -> xor("x2", "t")))
  }

  /** Bit-interleave of the transpose: X0 carries each 3-bit group's high
    * bit, yielding the standard 24-bit Hilbert index. */
  private[graft] def hilbertInterleave(div: String): String =
    (0 until 8).flatMap { q =>
      Seq(s"((x0 $div ${1L << q}) % 2) * ${1L << (3 * q + 2)}",
          s"((x1 $div ${1L << q}) % 2) * ${1L << (3 * q + 1)}",
          s"((x2 $div ${1L << q}) % 2) * ${1L << (3 * q)}")
    }.mkString("(", " + ", ")")

  /** h = hilbert(x, y, w) appended to `base` (columns x, y, w) — the
    * native HilbertIndex24 kernel (round 15): the chained-projection form
    * of hilbertLevels (now test code, HilbertKernelSpec.hilbertIndexChained)
    * cost ~1.3 s of single-task CPU per scan of the local fixture;
    * the kernel runs the identical integer transform as one tight loop.
    * private[graft] so HilbertLayoutSpec can pin it against the plain-
    * Scala reference and the z-curve comparison; HilbertKernelSpec pins
    * kernel == chained-expression form on both evaluation paths. */
  private[graft] def hilbertIndex(base: DataFrame): DataFrame =
    base.withColumn("h", graft.functions.SpatialKernels.hilbert24(
      col("x").cast("long"), col("y").cast("long"), col("w").cast("long")))

  /** The identical chain as nested-subquery DuckDB SQL over `src` (x,y,w). */
  private def hilbertSql(src: String): String = {
    var cols = Seq("x", "y", "w", "x0", "x1", "x2")
    var cur = s"SELECT x, y, w, x AS x0, y AS x1, w AS x2 FROM ($src) t0"
    var i = 0
    hilbertLevels((a, b) => s"xor($a, $b)").foreach { lvl =>
      cols = (cols ++ lvl.keys.filterNot(cols.contains)).distinct
      cur = s"SELECT ${cols.map(c => s"${lvl.getOrElse(c, c)} AS $c").mkString(", ")} FROM ($cur) s$i"
      i += 1
    }
    s"SELECT x, y, w, ${hilbertInterleave("//")} AS h FROM ($cur) hfin"
  }

  private val pivotCols = EventTypes.map(t =>
    s"""COALESCE(COUNT(*) FILTER (event_type = '$t'), 0)::BIGINT AS "$t"""").mkString(", ")

  private val rateCase = "CASE event_type " + SampleRates.map {
    case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") + " END"

  /** g7's full-layout recompute — g9's oracle too: the merged incremental
    * stats must equal the rebuild. */
  private lazy val zorderSql = s"""
      SELECT z // 4096 AS shard, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             MAX(x) - MIN(x) + 1 AS x_span, MAX(y) - MIN(y) + 1 AS y_span
      FROM (
        SELECT x, y, ${zInterleave("x", "y", div = "//")} AS z
        FROM (SELECT user_id % 256 AS x,
                     (hour(ts) * 60 + minute(ts)) // 6 AS y
              FROM events) t0) t1
      GROUP BY shard ORDER BY shard"""

  /** g19's harmonic class packing over a (doc_id, n_tok) frame — factored
    * so SequencePackingSpec can feed synthetic lengths (oversize, empty)
    * beyond what the fixture holds. See the g19 entry comment for the
    * algorithm and scale shape. */
  private[graft] def binPack(docsIn: DataFrame, w: Int = 512): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docs = docsIn.withColumn("cls", expr(
      s"case when n_tok > $w then 0L else $w div greatest(n_tok, 1) end"))
    val bounds = docs.agg(min($"doc_id").as("_lo"), max($"doc_id").as("_hi"))
    val bucketed = docs.crossJoin(broadcast(bounds))
      .withColumn("_bkt",
        least(floor(($"doc_id" - $"_lo") * 32 / ($"_hi" - $"_lo" + 1)),
              lit(31)).cast("int"))
      .drop("_lo", "_hi")
    val perCell = bucketed.groupBy($"cls", $"_bkt").agg(count(lit(1)).as("_c"))
    val wPrevC = Window.partitionBy($"cls").orderBy($"_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellOff = perCell
      .withColumn("_coff", coalesce(sum($"_c").over(wPrevC), lit(0L)))
      .select($"cls", $"_bkt", $"_coff")
    val perCls = perCell.groupBy($"cls").agg(sum($"_c").as("_n"))
      .withColumn("_cap", expr("case when cls = 0 then 1L else cls end"))
      .withColumn("_nwin", expr("(_n + _cap - 1) div _cap"))
    val wCls = Window.orderBy($"cls")
      .rowsBetween(Window.unboundedPreceding, -1)
    val clsOff = perCls
      .withColumn("_woff", coalesce(sum($"_nwin").over(wCls), lit(0L)))
      .select($"cls", $"_cap", $"_woff")
    val wIn = Window.partitionBy($"cls", $"_bkt").orderBy($"doc_id")
    bucketed
      .join(broadcast(cellOff), Seq("cls", "_bkt"))
      .join(broadcast(clsOff), Seq("cls"))
      .withColumn("_rank", $"_coff" + row_number().over(wIn) - 1)
      .select($"doc_id", $"n_tok", $"cls",
        ($"_woff" + expr("_rank div _cap")).as("win_id"),
        expr("_rank % _cap").as("slot"))
  }

  /** g19/c7's shared serial oracle: class-pack over any relation providing
    * (doc_id, n_tok) — returns a parenthesized subquery emitting
    * (doc_id, n_tok, cls, win_id, slot). */
  private[catalog] def binPackSql(src: String, w: Int = 512): String = s"""
      (WITH d AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok > $w THEN 0
                    ELSE $w // greatest(n_tok, 1) END AS cls
        FROM $src t0),
      r AS (
        SELECT doc_id, n_tok, cls,
               row_number() OVER (PARTITION BY cls ORDER BY doc_id) - 1 AS rnk
        FROM d),
      cw AS (
        SELECT cls, COUNT(*) AS n,
               CASE WHEN cls = 0 THEN 1 ELSE cls END AS cap
        FROM d GROUP BY cls),
      co AS (
        SELECT cls, cap,
               COALESCE(SUM((n + cap - 1) // cap) OVER (ORDER BY cls
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS woff
        FROM cw)
      SELECT r.doc_id, r.n_tok, r.cls::BIGINT AS cls,
             (co.woff + r.rnk // co.cap)::BIGINT AS win_id,
             (r.rnk % co.cap)::BIGINT AS slot
      FROM r JOIN co USING (cls))"""

  /** g18/e28's shared oracle — the serial packing prefix in doc_id order. */
  private[catalog] lazy val g18Sql: String = s"""
      SELECT doc_id, n_tok, start_tok,
             (start_tok // 512)::BIGINT AS win_start,
             ((start_tok + greatest(n_tok, 1) - 1) // 512)::BIGINT AS win_end,
             (start_tok % 512)::BIGINT AS off_in_win,
             ((start_tok + greatest(n_tok, 1) - 1) // 512
                - start_tok // 512 + 1)::BIGINT AS n_wins
      FROM (
        SELECT doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                 AS start_tok
        FROM (SELECT doc_id, len(${Tx.wsSql})::BIGINT AS n_tok
              FROM documents) t0) t
      ORDER BY doc_id"""

  val oracle: Map[String, String] = Map(
    // g10: file count is pinned by the explicit partition count, interval
    // disjointness by the range-partitioner contract (equal keys never
    // split), row count by the source table
    "g12_reshard_plan" -> {
      val (p10, s10) = ringSqlLits(10)
      val (p11, s11) = ringSqlLits(11)
      def assign(pos: String, sh: String, n: Int): String =
        s"$sh[(len(list_filter($pos, p -> p < dpos)) % $n) + 1]"
      s"""
      WITH d AS (
        SELECT doc_id, md5(doc_id::VARCHAR) AS dpos FROM documents),
      a AS (
        SELECT doc_id,
               ${assign(p10, s10, 80)}::BIGINT AS old_shard,
               ${assign(p11, s11, 88)}::BIGINT AS new_shard
        FROM d)
      SELECT old_shard, COUNT(*)::BIGINT AS n_docs,
             SUM((old_shard <> new_shard)::INT)::BIGINT AS n_moved_ring,
             SUM((doc_id % 10 <> doc_id % 11)::INT)::BIGINT AS n_moved_mod
      FROM a GROUP BY old_shard ORDER BY old_shard"""
    },
    "g10_range_layout" -> """
      SELECT 8::BIGINT AS n_files, COUNT(*) AS n_rows, TRUE AS disjoint
      FROM orders""",
    "g7_zorder_layout" -> zorderSql,
    "g9_zorder_maintain" -> zorderSql,
    "g14_zorder3_layout" -> s"""
      SELECT z // 1048576 AS shard, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             MIN(w) AS min_w, MAX(w) AS max_w,
             MAX(x) - MIN(x) + 1 AS x_span,
             MAX(y) - MIN(y) + 1 AS y_span,
             MAX(w) - MIN(w) + 1 AS w_span
      FROM (
        SELECT x, y, w, ${zInterleave3("x", "y", "w", div = "//")} AS z
        FROM (SELECT user_id % 256 AS x,
                     (hour(ts) * 60 + minute(ts)) // 6 AS y,
                     LEAST(255, CAST(round(value * 100) AS BIGINT) // 192) AS w
              FROM events) t0) t1
      GROUP BY shard ORDER BY shard""",
    // g17: the identical Skilling chain (hilbertSql), boundaries replayed
    // as explicit type-1 order statistics (row_number − 1 = position),
    // file = count of boundaries strictly below h.
    "g17_hilbert_layout" -> s"""
      WITH pts AS (
        ${hilbertSql("""SELECT user_id % 256 AS x,
                     (hour(ts) * 60 + minute(ts)) // 6 AS y,
                     LEAST(255, CAST(round(value * 100) AS BIGINT) // 192) AS w
              FROM events""")}),
      nn AS (SELECT COUNT(*) AS n FROM pts),
      ranked AS (SELECT h, row_number() OVER (ORDER BY h) - 1 AS rn FROM pts),
      bounds AS (
        SELECT r.h AS b
        FROM ranked r JOIN nn ON true
        JOIN (SELECT unnest(range(1, 16)) AS k) ks
          ON r.rn = ((nn.n - 1) * ks.k) // 16),
      fil AS (
        SELECT p.x, p.y, p.w,
               (SELECT COUNT(*) FROM bounds b WHERE p.h > b.b) AS file
        FROM pts p)
      SELECT file, COUNT(*) AS n,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             MIN(w) AS min_w, MAX(w) AS max_w,
             MAX(x) - MIN(x) + 1 AS x_span,
             MAX(y) - MIN(y) + 1 AS y_span,
             MAX(w) - MIN(w) + 1 AS w_span
      FROM fil GROUP BY file ORDER BY file""",
    "g11_winsorize" -> """
      WITH li AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      r AS (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents) - 1 AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM li),
      b AS (
        SELECT grp,
               MIN(CASE WHEN rn = ((n - 1) * 5) // 100 THEN cents END) AS lo,
               MIN(CASE WHEN rn = ((n - 1) * 95) // 100 THEN cents END) AS hi
        FROM r GROUP BY grp)
      SELECT li.grp, COUNT(*) AS n,
             SUM((li.cents < b.lo)::INT)::BIGINT AS n_clip_low,
             SUM((li.cents > b.hi)::INT)::BIGINT AS n_clip_high,
             SUM(least(greatest(li.cents, b.lo), b.hi))::BIGINT AS sum_winsorized,
             MIN(b.lo)::BIGINT AS p5_cents, MAX(b.hi)::BIGINT AS p95_cents
      FROM li JOIN b USING (grp) GROUP BY li.grp ORDER BY li.grp""",
    "g8_equidepth_bins" -> """
      WITH li AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      r AS (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents) - 1 AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM li),
      q AS (SELECT unnest(range(1, 10)) AS q)
      SELECT r.grp, 'd' || q.q AS decile, r.cents AS cents_at
      FROM r JOIN q ON r.rn = ((r.n - 1) * q.q) // 10
      ORDER BY grp, decile""",
    "g5_shuffle_shard" -> s"""
      SELECT doc_id, shard,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key)::BIGINT AS pos
      FROM (SELECT doc_id, ((doc_id % $P) * 48271 + 13) % $P AS key,
                   (((doc_id % $P) * 48271 + 13) % $P) % 16 AS shard
            FROM documents) t
      ORDER BY doc_id""",
    "g6_mixture_sample" -> s"""
      WITH rates AS (
        SELECT lang, COUNT(*) AS n_total,
               (($MixtureBudget * ${weightCase("lang")}) // 100)::BIGINT AS target_n
        FROM documents GROUP BY lang)
      SELECT d.lang, MAX(r.n_total) AS n_total, MAX(r.target_n) AS target_n,
             SUM(CASE WHEN ((d.doc_id % $P) * 48271 + 29) % $P % 10000
                        < LEAST(10000, r.target_n * 10000 // r.n_total)
                 THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM documents d JOIN rates r USING (lang)
      GROUP BY d.lang ORDER BY d.lang""",
    // g16: top-20-smallest-hash per language == threshold filter at the
    // 20th order statistic, because the LCG permutation makes hashes
    // distinct within a language
    "g16_exact_sample" -> s"""
      WITH d AS (
        SELECT doc_id, lang, ((doc_id % $P) * 48271 + 41) % $P AS h
        FROM documents),
      r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
        FROM d)
      SELECT lang, COUNT(*)::BIGINT AS n_sampled, SUM(doc_id)::BIGINT AS id_sum
      FROM r WHERE rk <= 20
      GROUP BY lang ORDER BY lang""",
    "g15_stratified_split" -> s"""
      SELECT lang, split, COUNT(*)::BIGINT AS n_docs,
             SUM(doc_id)::BIGINT AS id_sum
      FROM (
        SELECT doc_id, lang,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, lang,
                     ((doc_id % $P) * 48271 + 37) % $P % 100 AS b
              FROM documents) t0) t1
      GROUP BY lang, split ORDER BY lang, split""",
    "g13_temperature_mix" -> s"""
      WITH counts AS (
        SELECT lang, COUNT(*)::BIGINT AS n_total,
               floor(sqrt(COUNT(*)::DOUBLE))::BIGINT AS w
        FROM documents GROUP BY lang),
      ws AS (SELECT SUM(w)::BIGINT AS w_sum FROM counts),
      rates AS (
        SELECT lang, n_total, w,
               ($MixtureBudget * w // w_sum)::BIGINT AS target_n,
               LEAST(10000, ($MixtureBudget * w // w_sum) * 10000 // n_total)
                 AS rate_bp
        FROM counts CROSS JOIN ws)
      SELECT d.lang, MAX(r.n_total) AS n_total, MAX(r.w) AS weight,
             MAX(r.target_n) AS target_n,
             SUM(CASE WHEN ((d.doc_id % $P) * 48271 + 29) % $P % 10000
                        < r.rate_bp THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM documents d JOIN rates r USING (lang)
      GROUP BY d.lang ORDER BY d.lang""",
    // g21: full_epochs is pure integer arithmetic on the two aggregates;
    // planned_chars re-adds the deterministic partial-epoch hash pass
    "g21_epoch_plan" -> s"""
      WITH tot AS (SELECT SUM(n_chars)::BIGINT AS tot FROM documents),
      plan AS (
        SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS nc,
               (((SELECT tot FROM tot) * 3 // 2)
                 * ${weightCase("lang")} // 100)::BIGINT AS target_chars
        FROM documents GROUP BY lang),
      p2 AS (
        SELECT *, (target_chars // nc)::BIGINT AS full_epochs,
               ((target_chars - (target_chars // nc) * nc) * 10000 // nc)::BIGINT
                 AS rem_rate_bp
        FROM plan),
      part AS (
        SELECT d.lang,
               SUM(CASE WHEN ((d.doc_id % $P) * 48271 + 53) % $P % 10000
                          < p.rem_rate_bp THEN d.n_chars ELSE 0 END)::BIGINT
                 AS partial_chars
        FROM documents d JOIN p2 p USING (lang) GROUP BY d.lang)
      SELECT p.lang, p.n_docs, p.nc AS corpus_chars, p.target_chars,
             p.full_epochs, p.rem_rate_bp,
             (p.full_epochs * p.nc + pa.partial_chars)::BIGINT AS planned_chars
      FROM p2 p JOIN part pa ON p.lang = pa.lang ORDER BY p.lang""",
    "g4_shard_packing" -> s"""
      SELECT lang, shard, COUNT(*)::BIGINT AS n_docs,
             SUM(n_chars)::BIGINT AS n_chars_total,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM (
        SELECT lang, doc_id, n_chars,
               (COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // $ShardBudget)::BIGINT AS shard
        FROM documents) t
      GROUP BY lang, shard ORDER BY lang, shard""",
    // g18: the oracle states the SERIAL prefix; the Spark side's two-pass
    // bucket-offset shape must reproduce it exactly (order-preserving
    // range bucketing). Shared with e28 (the streaming form packs the same
    // doc_id order, so the two entries pin IDENTICAL results).
    "g18_sequence_packing" -> g18Sql,
    // g20: the quantizer chain + one within-cell pick window; the LCG key
    // is g5's permutation, so ordering ties are impossible below P.
    "g20_cell_balanced_sample" -> s"""
      WITH e AS (
        SELECT vec_id, v, ${Tx.dotSql("v", "v")} AS norm2
        FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings) t),
      ${Quantizer.centroidsSql(iters = 2, dim = 64)}${Quantizer.cellsSql}
      SELECT vec_id, cell::BIGINT AS cell, pick FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell
                 ORDER BY key, vec_id)::BIGINT AS pick
        FROM (SELECT vec_id, cell,
                     ((vec_id % $P) * 48271 + 13) % $P AS key
              FROM kcells) t) z
      WHERE pick <= ${Quantizer.CellTarget / 4}
      ORDER BY vec_id""",
    // g19: the serial statement of the class algorithm — rank within class
    // by doc_id (one row_number), per-class window counts, cumulative
    // class offsets; the Spark side's two-pass bucketed rank must hit it.
    "g19_boundary_pack" -> s"""
      SELECT doc_id, n_tok, cls, win_id, slot
      FROM ${binPackSql(s"""(SELECT doc_id, len(${Tx.wsSql})::BIGINT AS n_tok
              FROM documents)""")} bp
      ORDER BY doc_id""",
    // g26: the same class packing at each window size, aggregated
    "g26_window_sweep" -> Seq(256, 512, 1024).map { w =>
      s"""
      SELECT ${w}::BIGINT AS "window", COUNT(*)::BIGINT AS n_docs,
             COUNT(DISTINCT win_id)::BIGINT AS n_windows,
             (SUM(least(n_tok, $w)) * 10000
                // (COUNT(DISTINCT win_id) * $w))::BIGINT AS util_bp
      FROM ${binPackSql(s"""(SELECT doc_id, len(${Tx.wsSql})::BIGINT AS n_tok
              FROM documents)""", w)} bp$w"""
    }.mkString("", "\n      UNION ALL", "\n      ORDER BY \"window\""),
    "q9_quantile_filter" -> """
      WITH med AS (
        SELECT lang, quantile_cont(n_chars, 0.5) AS p50
        FROM documents GROUP BY lang)
      SELECT lang, MAX(p50) AS p50, COUNT(*) AS n_total,
             SUM(CASE WHEN n_chars >= p50 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             SUM(CASE WHEN n_chars >= p50 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS frac_kept
      FROM documents JOIN med USING (lang)
      GROUP BY lang ORDER BY lang""",
    "g2_stratified_sample" -> s"""
      SELECT event_id, event_type, bucket FROM (
        SELECT event_id, event_type,
               ((event_id % $P) * 48271 + 11) % $P % 100 AS bucket
        FROM events) t
      WHERE bucket < $rateCase
      ORDER BY event_id""",
    "g3_corpus_split" -> s"""
      SELECT split, COUNT(*) AS n_docs,
             SUM(octet_length(encode(text)))::BIGINT AS n_bytes
      FROM (
        SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split, text
        FROM (SELECT ((doc_id % $P) * 48271 + 7) % $P % 100 AS b, text
              FROM documents) t0) t1
      GROUP BY split ORDER BY split""",
    "p1_pivot" -> s"""
      SELECT user_id, $pivotCols
      FROM events GROUP BY user_id ORDER BY user_id""",
    "p2_unpivot" -> """
      SELECT p_partkey, measure, value FROM (
        SELECT p_partkey, 'p_size' AS measure, p_size::DOUBLE AS value FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part) t
      ORDER BY p_partkey, measure""",
    "q6_percentiles" -> """
      SELECT p_brand, quantile_cont(p_size, 0.5) AS p50,
             quantile_cont(p_size, 0.9) AS p90, COUNT(*) AS n
      FROM part GROUP BY p_brand ORDER BY p_brand""",
    "g1_array_agg" -> """
      SELECT s_nationkey, array_to_string(list_sort(list(s_name)), ',') AS names, COUNT(*) AS n
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    // g22: the serial statement of the skyline reduction — per-length
    // maxima, strict-prior running max, survivors joined back.
    "g22_pareto_frontier" -> s"""
      WITH d AS (
        SELECT doc_id, n_chars,
               CAST(${Dedup.cleanCharsSql(spark = false)} AS BIGINT) AS q
        FROM documents),
      meq AS (SELECT n_chars, MAX(q) AS meq FROM d GROUP BY 1),
      th AS (
        SELECT n_chars, meq,
               COALESCE(MAX(meq) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS mlt
        FROM meq)
      SELECT d.n_chars, d.q AS clean_chars, COUNT(*)::BIGINT AS n_docs,
             MIN(doc_id)::BIGINT AS exemplar
      FROM d JOIN th ON th.n_chars = d.n_chars
                    AND d.q = th.meq AND th.meq > th.mlt
      GROUP BY 1, 2 ORDER BY 1"""
  )
}
