#!/usr/bin/env python3
"""Emit SCALING.md from graft.Bench detail files (sf0.001/0.01/0.1[/1]).

Stdlib-only analysis of the engine's own JSON output (this script is
build tooling, not part of the Spark library). The operative check: on
a 10x corpus step a scale-linear operator's wall time grows <= ~10x; a
ratio beyond that with non-trivial absolute time marks a super-linear
plan (pair blowup, unpartitioned sort, driver-side loop) and is
flagged for triage in PLANS.md.

The optional fourth point is the LOCALLY-SYNTHESIZED sf1-equivalent
(scripts/synth_sf1.py — documented synthetic: 10x key-remapped sf0.1
with dedup/ANN-safe content remixing), proving the curve holds a third
decade.
"""
import json
import math
import sys

FLAG_RATIO = 10.0   # 10x data -> >10x time = super-linear
FLAG_FLOOR = 0.5    # seconds at the largest sf; below this, ratios are JVM noise


def load(path):
    with open(path) as f:
        return json.load(f)


def main():
    # optional: --media-sf10 <bench json> — the sf10-lite media point
    # (run_scaling.sh's SCALING_MEDIA_SF10=1), fed in as MEASURED JSON
    # so its section below is derived from the artifact rather than
    # hand-transcribed prose that can drift on reruns (r18 advice)
    argv = sys.argv[1:]
    media = None
    if "--media-sf10" in argv:
        i = argv.index("--media-sf10")
        media = load(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    benches = [load(p) for p in argv]
    all_names = ["sf0.001", "sf0.01", "sf0.1", "sf1 (synthetic)"]
    if not 2 <= len(benches) <= len(all_names):
        sys.exit(f"expected 2-{len(all_names)} bench files "
                 f"(labels {all_names}), got {len(benches)}")
    names = all_names[: len(benches)]
    last = benches[-1]
    prev = benches[-2]
    qs = sorted(last["queries"])
    calib = set(last.get("calibration_queries", []))
    # write-pipeline tier: fixture-building queries (fresh upsert table
    # per run) — tagged in the table and totals so their COW-commit
    # floors don't read as scan costs; still flag-ELIGIBLE (a
    # super-linear commit path would be a real bug)
    wp = set(last.get("write_pipeline_queries", []))

    rows = []
    flagged = []
    for q in qs:
        ts = [b["queries"].get(q, -1.0) for b in benches]
        # ratio of the LAST decade step (the strictest signal at the
        # largest absolute times), plus the prior step for the table
        def ratio(a, b):
            return b / a if a and a > 0 and b > 0 else float("nan")
        r_last = ratio(ts[-2], ts[-1])
        # log-log slope over the full span (each step is 10x data);
        # constant overhead at the small points biases it DOWN
        decades = len(benches) - 1
        slope = (math.log10(ts[-1] / ts[0]) / decades) \
            if ts[0] and ts[0] > 0 and ts[-1] > 0 else float("nan")
        rows.append((q, ts, r_last, slope))
        if q not in calib and ts[-1] >= FLAG_FLOOR and r_last > FLAG_RATIO:
            flagged.append((q, ts[-2], ts[-1], r_last))
        # a query that FAILED (or is absent — stale mixed-vintage bench
        # files) at any point is the worst scaling outcome, not a blank
        # cell: without this it escaped the flag entirely (its ratio is
        # nan) and the sweep read as a clean pass
        if any(t is not None and t < 0 for t in ts):
            failed_pts = [names[i] for i, t in enumerate(ts) if t is not None and t < 0]
            flagged.append((q + f" (FAILED/absent at {','.join(failed_pts)})",
                            ts[-2], ts[-1], float("inf")))

    def fmt(v, spec=".2f"):
        return "-" if (isinstance(v, float) and (math.isnan(v) or v < 0)) else format(v, spec)

    print("# Scaling sweep — does the plan survive a scale-up?")
    print()
    print("One idle-box session, plain-`java` launcher (scripts/run_scaling.sh),")
    print("identical JVM flags per point, staged-relation accounting: graft.Bench")
    print("at " + " / ".join(names) + ". Corpus grows 10x per step. The check the")
    print("round-8 verdict asked for: a headline query whose last-decade wall")
    print(f"ratio exceeds ~{FLAG_RATIO:.0f}x (on >= {FLAG_FLOOR}s absolute) is super-linear —")
    print("the shape that becomes a 100 TB killer — and must be triaged.")
    print("`slope` is the log-log exponent over the full span (1.0 = linear,")
    print("2.0 = quadratic); fixed per-query overhead (~0.05-0.3 s of plan/codegen")
    print("at every sf) biases slopes DOWN at small sf, so sub-linear ratios are")
    print("expected and benign — only the large-ratio tail matters.")
    if len(benches) > 3:
        print()
        print("The sf1 point is SYNTHETIC (scripts/synth_sf1.py): 10x key-remapped")
        print("duplication of sf0.1 with FK integrity per copy, per-copy Caesar")
        print("letter rotation in documents (word lengths and pre-tokenizer piece")
        print("counts preserved exactly, so dedup pair structure scales linearly")
        print("instead of every doc gaining 9 clones and tokenizer costs are not")
        print("distorted) and hash-parity sign-flipped embeddings (norms and")
        print("similarity distributions preserved, cross-copy cosine ~0, no")
        print("artificial clone ties).")
    print()
    for b, name in zip(benches, names):
        print(f"- {name}: total {b.get('value', 0):.1f} s "
              f"(staging {b.get('staging_sec', 0):.1f} + headline {b.get('headline_sec', 0):.1f} "
              f"+ write-pipeline {b.get('write_pipeline_sec', 0):.1f} "
              f"+ calibration {b.get('calibration_sec', 0):.1f}), "
              f"failures {b.get('failures', '?')}")
    # guard: an ONLY-filtered run can carry a zero headline tier
    tot_r = (last.get("headline_sec", 0) / prev["headline_sec"]
             if prev.get("headline_sec") else float("nan"))
    print(f"- headline total ratio {names[-2]}->{names[-1]}: **{tot_r:.2f}x** on 10x data")
    print()
    if flagged:
        print(f"## FLAGGED super-linear ({len(flagged)})")
        print()
        for q, t1, t2, r in sorted(flagged, key=lambda x: -x[3]):
            print(f"- `{q}`: {t1:.2f} s -> {t2:.2f} s = {r:.1f}x — triage in PLANS.md")
    else:
        print("## FLAGGED super-linear: none")
        print()
        print("No headline query exceeds the bar. The ratio tail (table below)")
        print("is inspected in PLANS.md's scaling triage section.")
    print()
    print(COST_MODEL)
    print()
    print(TRIAGE_R18)
    print()
    print(TRIAGE_R19)
    print()
    if media is not None:
        q = "x_media_dedup_groups"
        w10 = media.get("queries", {}).get(q)
        # resolve the sf1 point by its recorded "sf" field, not by list
        # position (r19 advice: a 2-3 file sweep labeled benches[-1] as
        # sf1 and computed the ratio against the wrong scale factor);
        # a failed wall (-1.0) is treated as missing, same as absent
        sf1_bench = next(
            (b for b in benches if str(b.get("sf", "")).endswith("testdata_sf1")),
            None)
        w1 = (sf1_bench or {}).get("queries", {}).get(q)
        if w1 is not None and w1 <= 0:
            w1 = None
        print("## sf10-lite media point (derived from measured JSON)")
        print()
        print("Measured by this sweep's optional fifth point")
        print("(SCALING_MEDIA_SF10=1; isolated SPARK_GRAFT_ONLY run over")
        print("scripts/synth_sf10lite_docs.py's 10x documents remix —")
        print("numbers below come from the bench artifact, not prose):")
        print()
        if w10 is not None and w10 > 0:
            ratio = (f"{w10 / w1:.2f}x" if w1 and w1 > 0
                     else "- (sf1 wall unavailable in this sweep)")
            # fmt handles NaN, not None (r19 review: a mixed-vintage
            # sf1 file without this query would crash the report after
            # the whole sweep already ran)
            w1s = fmt(w1, ".2f") if w1 is not None else "-"
            print(f"- `{q}`: {w1s} s (sf1) -> {w10:.2f} s "
                  f"(sf10-lite) = {ratio} on 10x docs")
        else:
            print(f"- `{q}`: FAILED/absent in the media bench file")
        print("- class saturation (DuckDB over the same remix, "
              "scripts/synth_sf10lite_docs.py): see TRIAGE above — the "
              "class count is corpus-bounded, so the residual wall "
              "growth is the O(n) per-doc feature scan.")
        print()
    print("## Per-query wall seconds")
    print()
    header = " | ".join(names)
    print(f"| query | {header} | last-decade ratio | slope |")
    print("|---" * (len(benches) + 3) + "|")
    for q, ts, r, slope in sorted(rows, key=lambda x: -(x[2] if x[2] == x[2] else -1)):
        tier = " (calib)" if q in calib else (" (wp)" if q in wp else "")
        cells = " | ".join(fmt(t, ".3f") for t in ts)
        print(f"| `{q}`{tier} | {cells} | {fmt(r)} | {fmt(slope)} |")


COST_MODEL = """## 100 TB cost model (arithmetic, not extrapolation)

The sweep above measures 4 decades; the next 5 (sf1 -> ~100 TB) are
projected from each operator family's PLAN — what each row contributes
to every exchange, times the row count at 100 TB. Anchors: sf1 here is
~1 GB of table data, so 100 TB = 10^5 x sf1. A 100 TB TEXT corpus at
~2 KB/doc is 5x10^10 documents and ~2x10^13 tokens at ~400 tokens/doc;
an embedding sidecar at 256 x float32 is ~1 KB/vector.

Per-tier exchange volume = (bytes each row sends through its widest
shuffle) x (rows). What keeps each tier feasible is listed as the
mitigation the plan already implements — none of these are aspirational:

| tier | widest exchange per row | rows at 100 TB | exchange volume | why it stays feasible |
|---|---|---|---|---|
| relational aggs (q1/q_agg_*) | grouped partials, ~100 B/group/partition | groups ~10^4-10^6 | ~GBs | map-side combine: exchange carries GROUPS x partitions, not rows |
| FK joins (q3/q5/join_*) | 8-32 B key + row slice | 5x10^10 facts | ~1-2 TB per join | dim sides broadcast (<100 MB); only the fact slice shuffles; AQE skew-splits |
| exact dedup / hash groupBy | 48 B (md5 + key) | 5x10^10 docs | ~2.4 TB | one shuffle, partial agg first; no pair space ever forms |
| MinHash-LSH near-dup | ~200 B signature x B bands | 5x10^10 docs | ~10 TB x B/16 | banding: candidates stay in-bucket; calibration keeps bucket mass ~O(1) per doc |
| media/feature dedup GROUPS | class tuple ~60 B | CLASSES (saturating; measured 3.8k->7.5k on 10x docs) | ~MBs past the first scan | feature-class contraction: CC runs on classes, the 100x doc-pair blowup never shuffles |
| token stats / BPE / LM scores | token partials ~16 B | 2x10^13 tokens | ~300 TB naive -> ~GBs | per-partition partial term/pair counts reduce to vocab x partitions before exchange |
| BM25 / inverted retrieval | posting ~16 B | 2x10^13 postings | ~300 TB naive | df caps + per-partition combine + query-side broadcast keep the exchanged postings to the query vocabulary |
| ANN / IVF | cell id + int8 code ~300 B | 5x10^10 vectors | ~15 TB once | centroid codebook broadcasts (k x dim, MBs); assignment is a map pass; searches touch nprobe cells only |
| IVF drift maintenance | per-cell (d, sum, n) partials | k x dim x partitions | ~MBs | trigger is one agg pass to k x dim driver bytes; retrain rewrites cell-partitioned, O(corpus) once |
| streaming (sessionize/joins) | keyed state delta ~100 B/event | events/sec, not corpus | bounded by watermark | range/watermark bounds state; RocksDB per key-partition; replay idempotent via record keys |

Top-3 projected costs at 100 TB, in order:

1. **Token-granularity passes** (token stats, BPE encode, LM scoring):
   ~2x10^13 rows scanned per pass. Scan-bound, embarrassingly parallel,
   zero exchange after partial agg — the cost is CPU-seconds, not
   shuffle. The plans are single codegen'd scans (PLANS.md), so the
   1000-executor wall is corpus/(executors x per-core throughput).
2. **Near-dup banding exchange** (~10 TB per LSH pass): the one
   unavoidable all-corpus shuffle. Runs at network line rate (it is a
   pure hash exchange), and band count B trades recall for volume
   linearly. The verified-pair output is kept off any single-task path
   (CC consumes it edge-partitioned; class contraction collapses it
   entirely for scalar-feature media).
3. **ANN index build** (~15 TB once + k-means rounds): each Lloyd round
   is one broadcast-assign map pass + a k x dim x partitions partial
   reduce; rounds are bounded (2-3), and incremental maintenance
   (x_ann_ivf_incremental + maintain_ivf drift retrain) amortizes the
   rebuild so the full-corpus pass is rare.

Everything else either broadcasts (dims, codebooks, query sets),
saturates (feature classes, vocabularies), or carries map-side-combined
partials (aggregation trees). The families with data-quadratic OUTPUT
(pair-emitting diagnostics like x_media_dedup_feature and the (calib)
tier) are explicitly calibration surfaces; their production twins
(groups/LSH/sketches) are the rows above."""


TRIAGE_R18 = """## Round-18 stage decompositions (idle box, isolated-to-isolated)

Measured with two stage-wall triage mains for the PQ and MOR
incremental-IVF pipelines (since deleted; the one span API of ROADMAP
item 3 replaces them) and DuckDB class counts; every number below is a
fresh-JVM isolated run, compared only to its isolated twin at the other
scale point (the variance protocol).

**1. `x_ann_pq` sf0.1 -> sf1 attributed per stage** (r17 task #3 — the
5.3x isolated decade, decomposed):

| stage | sf0.1 | sf1 | output rows sf0.1 -> sf1 |
|---|---|---|---|
| subvector_explode | 4.12 s | 4.43 s | 8,000 -> 80,000 |
| lloyd_round | 4.37 s | 3.61 s | 64 -> 64 (codebook) |
| code_assign | 1.56 s | 1.35 s | 8,000 -> 80,000 |
| **adc_scan** | **1.76 s** | **10.94 s** | **39,980 -> 3,999,800 (100.05x)** |
| shortlist_topk | 0.50 s | 1.29 s | 400 -> 4,000 |
| exact_rerank | 1.23 s | 1.29 s | 100 -> 1,000 |

Every stage is flat-to-linear except the ADC scan, whose OUTPUT is
|codes| x |queries| = N x N/100 — quadratic by FIXTURE construction
(the bench query set scales with the corpus, like the brute-force
ground truth it is recalled against); wall per output row IMPROVES 16x
(44 us -> 2.7 us). Lloyd does NOT dominate and is flat. The plan is
the intended one (broadcast tables, single codes scan, map-side pivot
agg). The production scale path is the cell-local composition below.

Per this decomposition, `x_ann_pq` is CLASSIFIED CALIBRATION as of r19
(r18 verdict #3, the r17 media-pair-view precedent): the tier rule is
that a surface whose OUTPUT is data-quadratic by fixture construction
and whose production twin is oracle-gated in the headline tier
(`x_ann_ivf_pq`, 1.42x on 10x) is a ground-truth/diagnostic surface —
the FLAGGED list above must only ever carry queries that are
super-linear for PLAN reasons.

**2. `x_ann_ivf_pq`** (new in r18 — FAISS IndexIVFPQ shape: coarse
quantizer restricts ADC to the query's cell, composing the staged
ivf_cells + pq_codebook/pq_codes index structures, exact rerank):
1.47 s at sf0.1 -> 2.09 s at sf1 = **1.42x on 10x data** in the same
runs where flat PQ measures 1.14 -> 12.1 s (10.7x). The quadratic ADC
term contracts to ~|corpus|/|cells| codes per query; at 100 TB the
float embeddings are read only for the rerank survivors.

**3. Media feature-class saturation, third decade** (r17 task #4):
distinct class count (media_type, byte_len, f1, f2, band, lenb) over
10x-remixed documents (scripts/synth_sf10lite_docs.py): 3,790 (sf0.1,
5k docs) -> 7,494 (synthetic sf1, 50k docs) -> **7,494 (sf10-lite,
500k docs — ZERO growth)**. `x_media_dedup_groups` isolated walls:
11.3 -> 13.0 -> 24.9 s across the two decades (1.15x, 1.92x) — the
residual growth is the O(n) per-doc feature scan and doc->class join,
while CC runs on the saturated class set. The 100 TB claim holds one
decade further out: the quantized feature space is bounded, so the
class-contracted operator stays scan-dominated.

**4. `x_ann_ivf_incremental_mor` phase decomposition** (r17 task #9 —
the wp tier's 9.18x sweep line): isolated fresh-JVM phase walls
sf0.1 -> sf1: slice_build (full-corpus assign + quantize, the data
term) 8.5 -> 26.7 s (3.1x); ingest commits 7.8 -> 10.3 s (1.3x);
replay+refresh commits 4.6 -> 7.6 s (1.6x); MOR read + search
4.0 -> 8.0 s (2.0x). Isolated totals 25 -> 52.7 s = **2.1x on 10x
data**; no phase is super-linear, and the commit floor (the four
fence-serialized upserts) dominates both points. The 9.18x in the
in-run sweep is run-position contamination of a sub-linear query
(same class as r17's q_cdc_parse 10.9x-in-run -> 1.6x-isolated
finding), not a plan defect.

**5. `q_agg_pushdown` after the r18 SUM/AVG extension**: the sweep
line reads higher at sf1 than r17's (a double-column SUM partial
cannot come from footers, so files pay a single-column scan where
COUNT/MIN/MAX were a pure metadata pass) — but isolated, the full
fixture (upsert table build + grouped COUNT/COUNT(col)/MIN/MAX/SUM/
AVG) measures **5.6 s at sf1** vs r17's committed 4.1 s: the true
cost of serving SUM/AVG is ~1.5 s per 500k-row build, and any larger
in-run number is run-position noise. Integral SUMs still answer from
footers when chunks are constant; the DISTINCT/stddev decline path is
regression-kept."""


TRIAGE_R19 = """## Round-19 third-decade triage (idle box, MIN-of-reps isolated runs)

The r18 verdict asked for (#4) an isolated rerun of `x_mlm_masking`'s
8.4x decade and (#6) one more decade for the documents-tier headline
tail. Both ran this round over the extended sf10-lite remix
(scripts/synth_sf10lite_docs.py now synthesizes documents AND events).

**Protocol upgrade forced by the box:** this session measured
FIRST-TOUCH/STEAL windows of up to 10x on single isolated runs —
`x_mlm_masking` at sf1 read 79.1 s, then 58.0 s, then **7.71 s** across
three fresh idle-box JVMs (the min matching r18's committed 7.59 s
exactly), and `x_dedup_containment` at sf1 read 68.9 -> 14.5 -> 15.5 s.
One isolated run is NOT enough on this box: the triage numbers below
are the MIN over 2-3 fresh-JVM repetitions per point (contamination
only ever adds), and the bench's end-of-run auto-rerun (this round's
task #1) applies the same principle in-run.

Min-of-reps walls, sf0.1 / sf1 / sf10-lite (10x docs per step):

| query | sf0.1 | sf1 | sf10-lite | decade 2 | decade 3 |
|---|---|---|---|---|---|
| `x_mlm_masking` | 1.31 | 7.71 | 17.4 | 5.9x | **2.3x** |
| `x_dedup_containment` | 5.03 | 14.5 | 113.8 | 2.9x | 7.9x |
| `x_line_dedup` | 1.74 | 12.8 | 23.2 | 7.4x | **1.8x** |
| `x_token_stats` | 0.54 | 2.15 | 9.28 | 4.0x | 4.3x |
| `x_lang_id` | 0.80 | 1.93 | 25.6 | 2.4x | 13.3x |

Attribution:

1. **`x_mlm_masking` (r18 #4) closed**: the isolated decade is 5.9x
   (this session) / 8.4x (r18's committed sweep, reproduced by the
   min), NOT contamination — but the THIRD decade collapses to 2.3x.
   The sf0.1 point (~0.9-1.3 s) is plan/codegen-overhead-dominated, so
   its ratio is biased UP; the per-doc compute is linear (PlanShapeSpec
   pins the plan to per-row work + one presentation exchange). The
   in-session 79 s/58 s readings were the box's first-touch windows —
   exactly the artifact class task #1's rerun machinery now absorbs.
2. **`x_dedup_containment`**: 7.9x decade 3, under the bar and linear
   in the pair rows (the Caesar remix preserves per-copy shingle df
   structure, so df-capped pair rows grow 10x per decade by
   construction). The absolute cost (~114 s) IS the pair-aggregation
   shuffle — the honest price of df<=50 shingle pair counting; at
   100 TB this is the banding-exchange row of the cost model, network-
   bound, not a plan defect. Variance on this line (114/128/198 s
   across reps) is the box, not the query.
3. **`x_lang_id` 13.3x decade 3 — attributed, presentation-layer**:
   the sf1 point (1.93 s) is still overhead-dominated (sf0.1->sf1 was
   2.4x), so decade 3's ratio is measured against a floor; the genuine
   per-doc slope across the full span is ~50 us/doc (4 stopword-list
   filters per token). The one structurally non-linear term in these
   per-doc-output queries is `Present.sortSmall`'s repartition(1)
   presentation sort (single task over the whole output) — fine for
   the verify dump contract at test sf, NOT a production shape; a
   100 TB consumer writes the same per-row projection partitioned,
   without the presentation exchange. Same story bounds `x_mlm_masking`
   and `x_token_stats`'s absolute walls.
4. **`x_line_dedup` 1.8x / `x_token_stats` 4.3x**: scale-linear; the
   line registry's first-occurrence fold and the per-row counters hold
   their shape a third decade out."""


if __name__ == "__main__":
    main()
