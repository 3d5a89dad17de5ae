"""Benchmark harness: runs EVERY registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "registry_queries_total_wall", "value": total_sec,
     "unit": "sec", "sf": ..., "n_queries": N,
     "order": "sorted-registry-names", "qv": [sec, ...]}

Driver contract (r7 VERDICT ask #2): the driver captures only a
2000-char stdout tail, so the line is kept compact — per-query
timings ride in `qv`, an array ordered by the SORTED registry query
names (`sorted(__spark_entry__._all_queries())` at this commit), and
the explicit name → seconds mapping plus the measurement-basis
accounting prose is written to BENCH_NOTES.md next to this file
(committed with the round).  The line is asserted < 1900 chars.

Each query is executed to completion (count() action) after a warm-up
of the JVM/codegen/Arrow workers.  Timings are per-query wall clock.

Regression guard (r4 VERDICT ask #6): after the timed loop, per-query
deltas against the newest committed BENCH_r*.json are printed to
stderr, and any query slower by more than REGRESSION_FACTOR (1.5x,
and at least 0.5s absolute — sub-second queries are noise-dominated)
is flagged loudly so drift is caught by the harness, not the judge.
Flags never change the JSON line or the exit code — the driver's
contract is one JSON line on stdout, always.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from fsharp_dataframe_spark import get_spark

MAX_LINE = 1900  # driver tail capture is 2000 chars; leave margin

REGRESSION_FACTOR = 1.5
REGRESSION_MIN_ABS = 0.5  # sec — below this, wall-clock is run noise

# r9 VERDICT ask #6: the Python-heavy dedup tail swings ±0.4-0.6s
# run-to-run with no code change, wide enough to hide a real 20%
# regression.  Queries whose FIRST measurement exceeds this get one
# repeat (cache released in between, same standalone-cost basis) and
# the MIN is recorded — min-of-2 cuts one-sided scheduling noise
# without re-running the ~145 sub-2s queries.
REPEAT_THRESHOLD = 2.0  # sec

# r11 VERDICT ask #6: BENCH_r11 ran on a contended driver box (load0
# 3.2) and recorded a uniform ~1.55x inflation across all 169 common
# queries — a box signature, not plan drift, but it polluted the
# round-over-round artifact.  When the 1-min load average at session
# start exceeds this, EVERY query gets min-of-2 and the >REPEAT_
# THRESHOLD tail gets min-of-3, so a contended run converges toward
# solo numbers instead of recording the inflation verbatim.  On a
# quiet box nothing changes (same basis as r10/r11 artifacts).
HOT_LOAD_THRESHOLD = 2.0  # 1-min loadavg

# r14 VERDICT ask #2a: min-of-N does NOT converge when contention is
# SUSTAINED (the r14 artifact recorded ivf_assign raw retries
# 9.0/11.4/8.4 on code byte-identical to its 0.64 s r13 run), so
# escalation alone cannot rescue a hot-box recording.  The guard now
# REFUSES to start timing on a hot box: before the session spins up,
# bench WAITS (polling the 1-min load) until load drops below
# HOT_LOAD_THRESHOLD, up to SPARK_GRAFT_LOAD_WAIT seconds (default
# 900; 0 disables).  Only if the budget exhausts does it fall back to
# the r11 min-of-N escalation, and the artifact then self-attributes
# via its recorded load + "w" (seconds waited).  The wait happens
# BEFORE get_spark so JVM spin-up doesn't pollute the reading.
LOAD_WAIT_BUDGET = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "900"))
LOAD_POLL_SEC = 15

# r14 VERDICT ask #2b: three rounds attributed bench drift to "the
# box" with no instrument that could SEE the cause — load average
# only counts THIS VM's runnable threads, so a co-tenant VM eating
# the physical cores is invisible to it (r14's artifact recorded
# sustained 13x inflation on byte-identical code at load0 2.8).  On
# a virtualized box the hypervisor reports exactly that contention
# as CPU STEAL time (/proc/stat field 8): cycles our runnable vCPUs
# wanted but the host gave to someone else.  The bench now (1)
# PROBES steal under full-core JVM load before timing and waits
# until the probe is clean, (2) samples steal around EVERY timed
# run, re-running a query whose best run was stolen from, and (3)
# records run-level steal in the artifact ("st", percent) with
# per-query steal for contended entries in BENCH_NOTES — so a
# contaminated recording is self-attributing instead of a
# three-round argument.
# r16 (VERDICT r15 ask #5): 8% let the r15 driver recording through at
# probe steal 6.5% and its heavy tail disagreed with the same-code
# 8-core run by 2x; tightened to 4%.
STEAL_THRESHOLD_PCT = 4.0
STEAL_RERUN_CAP = 2  # extra reruns granted when the best run is stolen


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return v[7], sum(v)


def _steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    ds, dt = b[0] - a[0], b[1] - a[1]
    return 100.0 * ds / dt if dt > 0 else 0.0

# Machine-readable measurement-basis changes (r5 VERDICT ask #8): when a
# query's MEASUREMENT changes (cache policy, hash family, substrate
# default) rather than its plan, record it here so a judge reading
# BENCH_NOTES.md sees the basis shift without git archaeology.  Entries
# are {"round": N, "queries": [...] or "all", "change": ...}; keep old
# entries — the list is the accounting history.
ACCOUNTING_CHANGES = [
    {"round": 16, "queries": "all media + embedding fixture consumers",
     "change": "input-table row counts (documents/embeddings) are "
               "memoized per session (__spark_entry__._table_count, "
               "VERDICT r15 ask #4): ~30 queries each opened with a "
               "driver-synchronized count() job purely to derive "
               "deterministic fixture ids; the first count per "
               "(session, dir, table) still runs from parquet — the "
               "bench's untimed warm-up primes it — and later queries "
               "reuse the scalar, the session equivalent of catalog "
               "statistics.  Query results are unchanged; timed "
               "entries no longer include that one job (~0.1-0.2 s "
               "each at sf0.1)."},
    {"round": 15, "queries": ["video_offset_dedup", "video_offset_incr",
                              "audio_overlap_dedup", "audio_overlap_incr",
                              "audio_rate_dedup", "video_dual_dedup",
                              "video_dual_incr", "audio_hop_fine_dedup",
                              "image_crop_verify", "audio_ber_verify",
                              "video_residue_dedup", "video_residue_incr"],
     "change": "clone-transform relations (head-trimmed / resampled / "
               "cropped re-uploads planted by the twelve media queries) "
               "moved into the write-once parquet fixture cache built "
               "during warm-up (multimodal.cached_clone; VERDICT r14 "
               "ask #6 — the r11 accounting rule: image_crop_verify's "
               "8.8 s driver recording was dominated by re-running the "
               "n/5 PNG crop transform every run, and every trim query "
               "paid its decode+re-encode the same way).  These entries "
               "now measure the dedup/verify OPERATOR (decode + banded "
               "join / FFT verify + closure) over bit-identical input "
               "bytes; transform seconds are reported separately next "
               "to the media-fixture cache build.  Totals on these "
               "twelve queries are NOT comparable to r14."},
    {"round": 5, "queries": "all",
     "change": "bench releases tracked caches between queries; each "
               "query now pays its standalone cost (r4 numbers let "
               "later queries ride earlier queries' cached relations)"},
    {"round": 5, "queries": ["minhash_pairs", "near_dedup"],
     "change": "minhash moved to the md5 oracle hash family (~20% "
               "slower than the xxh64 production default) so the "
               "driver can hash-check the full pipeline"},
    {"round": 6, "queries": ["ewma", "fill_forward", "fill_linear",
                             "chunk_sum", "chunk_dist", "window_dist",
                             "pack_shards", "pack_sequences",
                             "weighted_sample", "window_while_par",
                             "rolling_corr", "asof_join"],
     "change": "bucketed substrate n_buckets now auto-sizes (floor 64 — "
               "same bucket count at bench scale); the row count rides "
               "the existing quantile job (count + percentile_approx in "
               "one aggregation), so no extra pass, but cut placement "
               "comes from percentile_approx instead of approxQuantile "
               "(same sketch, different accuracy parameterization — "
               "bucket balance may shift within sketch error)"},
    {"round": 7, "queries": ["ewma", "fill_linear", "chunk_sum",
                             "chunk_dist", "window_dist", "pack_shards",
                             "pack_sequences", "weighted_sample",
                             "window_while_par", "rolling_corr"],
     "change": "r6-regression attribution (r6 VERDICT ask #7), measured "
               "by A/B-ing the r5 and r6 substrates on one box: the r6 "
               "flat indicator-sum bucket expression (which replaced the "
               "HOF size(filter(array)) form — that form mis-binds under "
               "Union constraint propagation and cannot grow past ~128 "
               "cuts) embeds the quantile cut VALUES as literals in the "
               "whole-stage-codegen source, so every census-consuming "
               "query pays ~0.3-0.9 s of one-time Janino+JIT compilation "
               "for its own cut set (queries with several generated "
               "stages over the same cuts, e.g. window_while_par's halo "
               "union, pay it per stage).  Steady-state evaluation is "
               "~30% FASTER than the old interpreted HOF form (0.21 s vs "
               "0.30 s per census pass over 600k rows once compiled), so "
               "at real scale the trade inverts; at sf0.1 the compile "
               "dominates and shows as the r5->r6 regression.  Not a "
               "plan change — bucket counts, cut placement and results "
               "are identical; the r6 entry's cut-placement hypothesis "
               "is superseded by this measurement."},
    {"round": 7, "queries": ["fuzzy_names"],
     "change": "fuzzy_join_pairs now defaults to the prefix-filter "
               "signature tier (r6 VERDICT ask #5): join fan-out drops "
               "1689 -> 405 rows at sf0.1 (-76%, the scale win), but "
               "the tier adds a frequency groupBy + two per-string "
               "ranking windows, so at this corpus's 64 distinct names "
               "the fixed stage overhead can outweigh the fan-out "
               "saving; result identical (lossless, naive-join "
               "oracle unchanged)."},
    {"round": 8, "queries": "all",
     "change": "bench now times EVERY registered query (r7 VERDICT ask "
               "#7; previously a 108-query HEADLINE subset — the ~33 "
               "cheap §2 veterans outside it were invisible to the "
               "bench), and the stdout JSON moved from a per-name "
               "`queries` dict to the compact `qv` array ordered by "
               "sorted registry names (r7 ask #2: the old line outgrew "
               "the driver's 2000-char tail capture; BENCH_r06/r07 "
               "recorded parsed:null).  `metric` renamed "
               "headline_queries_total_wall -> "
               "registry_queries_total_wall: totals are NOT comparable "
               "across that rename (wider query set)."},
    {"round": 10, "queries": "all (>2s first run)",
     "change": "queries whose first measurement exceeds 2s are re-run "
               "once (caches released between runs) and the MIN of the "
               "two is recorded in qv/total (r9 VERDICT ask #6: the "
               "±0.5s noise on the 2-4s dedup tail masked real "
               "regressions).  Totals are therefore biased ~the "
               "one-sided noise LOWER than r9 on the heavy tail; both "
               "raw runs are listed under 'Repeated heavy-tail "
               "queries' in these notes."},
    {"round": 11, "queries": ["image_near_dup", "image_dedup_clusters",
                              "image_incr_dedup"],
     "change": "the closed-form dHash PNG fixture now comes from a "
               "write-once parquet cache built during bench warm-up "
               "(r10 VERDICT ask #5: the pure-Python PNG encode of the "
               "5,000-image fixture dominated two top-five entries — "
               "r10's image_dedup_clusters 3.44s / image_near_dup "
               "2.09s tracked stdlib zlib throughput, masking the "
               "operator underneath).  Entries now measure Arrow "
               "decode + banded join + closure; fixture-encode "
               "seconds are reported separately in these notes.  "
               "Totals on these queries are NOT comparable to r10."},
    {"round": 11, "queries": "all",
     "change": "registry grew 169 -> 190: the 21 round-11 newcomers "
               "(the ROUND-12 ROTATION PLAN list in __spark_entry__) "
               "are 13 TPC-H plan classes "
               "(tpch_q2/q7/q8/q9/q10/q11/q12/q13/q15/q16/q19/q20/q21) "
               "completing all 22 classic shapes, plus image_incr_dedup, "
               "embed_incr_dedup, semantic_incr_dedup, audio_near_dup, "
               "audio_incr_dedup, video_near_dup, video_incr_dedup and "
               "media_catalog.  Totals are NOT comparable to r10; "
               "compare name-keyed.  The audio and video fixture caches "
               "build during warm-up next to the image cache (same "
               "write-once parquet discipline)."},
    {"round": 12, "queries": "all",
     "change": "registry grew 190 -> 197: +audio_stream_dedup and "
               "+audio_stream_incr (whole-stream windowed audio "
               "fingerprints matched by offset vote), "
               "+video_offset_dedup and +video_offset_incr "
               "(temporal-offset-tolerant video matching over "
               "head-trimmed re-uploads), +audio_snippet_search and "
               "+video_snippet_search (query-by-example containment), "
               "+video_segments (multi-offset shared-segment report "
               "for compilations/splices).  "
               "Totals are NOT comparable to r11; compare name-keyed. "
               "The audio-stream fixture cache builds during warm-up "
               "next to the other three."},
    {"round": 13, "queries": "all",
     "change": "registry grew 197 -> 203: +audio_overlap_dedup and "
               "+audio_overlap_incr (overlapped-hop framing, hop = "
               "window/4, catches sub-window head trims the "
               "non-overlapping framing provably misses), "
               "+audio_rate_dedup (rate-normalized decode catches "
               "16 kHz re-encodes bit-exactly), +video_dual_dedup and "
               "+video_dual_incr (dual-parity sampling catches "
               "one-frame trims under stride-2 defaults), "
               "+audio_overlap_snippet (sub-window snippet cuts found "
               "at hop resolution over the same overlap index).  "
               "Totals are "
               "NOT comparable to r12; compare name-keyed.  The five "
               "ride the cached audio-stream/video fixtures plus real "
               "per-run trim/resample transforms."},
    {"round": 14, "queries": "all",
     "change": "registry grew 203 -> 208: +video_residue_dedup and "
               "+video_residue_incr (dual parity generalized to "
               "residue sets — any-stride trim tolerance at "
               "every_n=3 with planted 1- and 2-frame trims), "
               "+audio_hop_fine_dedup (the measured hop=256 point on "
               "the overlap dial: catches 768-sample/3-frame trims "
               "the default hop=512 provably misses; the 256-sample "
               "analysis-frame grid is the exact family's pinned "
               "floor), +audio_ber_verify (the Haitsma-Kalker "
               "bit-error-rate verify stage that closes that floor "
               "for candidate pairs: FFT sample-resolution alignment "
               "+ fingerprint agreement; 100-sample trims verify at "
               "ber 0), +image_crop_verify (the 2-D twin: crop_media "
               "real crops + image_shift_verify 2-D FFT alignment + "
               "exact pixel agreement, closing the crop blind spot "
               "whole-image dHash provably has).  Totals are NOT "
               "comparable to r13; compare name-keyed.  All five ride "
               "the cached media fixtures plus real per-run "
               "trim/crop transforms."},
    {"round": 14, "queries": ["ewma", "pack_sequences", "pack_shards",
                              "perplexity_buckets"],
     "change": "r13-drift attribution MEASURED (r13 VERDICT ask #5; "
               "tools/microbench.py, HEAD vs the r12 tip f07d7db "
               "back-to-back, quiet box): ewma 3.70 vs 4.03 (HEAD "
               "-8%), pack_sequences 2.10 vs 1.84 (+14% median, +4% "
               "on mins), pack_shards 1.07 vs 1.05, "
               "perplexity_buckets 2.38 vs 2.43, control ivf_train "
               "3.93 vs 3.76 (+4.5%) — code FLAT r12->r14 on all "
               "four; the BENCH_r13 ewma 4.85 was the box (its "
               "microbench control ran +45% that session)."},
    {"round": 14, "queries": "all",
     "change": "today's box swings wide run-to-run: three back-to-back "
               "full-registry runs on IDENTICAL code read 236.7 / 276.1 "
               "/ 231.8 s (common-203 vs BENCH_r13: +19% / +41% / +17%) "
               "with the inflated set SHIFTING between runs "
               "(frame_shift_diff 0.21->1.78 in run 2 only; "
               "image_dedup_clusters 2.04->4.40 in run 3 only; trivial "
               "Column-expression queries inflating up to 8x) — a box "
               "signature, not plan drift; the quiet-box A/B microbench "
               "the same day pinned ewma/pack/perplexity FLAT vs the "
               "r12 tip with the control at +4.5%.  Compare name-keyed "
               "and trust the pinned microbench medians, not "
               "single-shot artifacts recorded on this box."},
    {"round": 13, "queries": ["minhash_pairs", "ngram_jaccard",
                              "incremental_dedup", "quantile_bins",
                              "dedup_clusters", "dedup_keep_best",
                              "semantic_dedup", "image_dedup_clusters"],
     "change": "r13 microbench RE-PIN of the shingle + cluster family "
               "medians (r12 VERDICT ask #6; tools/microbench.py, "
               "same command as the r12 pin): minhash_pairs 2.44, "
               "ngram_jaccard 2.38, incremental_dedup 3.87, "
               "quantile_bins 3.90 with control ivf_train 4.51 -- the "
               "control moved +45% vs its r12 median 3.10, i.e. "
               "today's box runs uniformly slower, and every family "
               "member's move is inside the control's band: the code "
               "is FLAT r12->r13 (no shingle/cluster code changed "
               "this round; the diff is media tiers + index "
               "maintenance).  Cluster family, quiet-box run (load0 "
               "0.10): dedup_clusters 3.95, dedup_keep_best 3.93, "
               "semantic_dedup 3.88, image_dedup_clusters 2.43 -- "
               "+5-15% vs the r12 medians, inside the box-slowdown "
               "band.  These medians are the forward basis; re-pin "
               "before reading any future family drift as real."},
    {"round": 12, "queries": ["dedup_clusters", "dedup_keep_best",
                              "semantic_dedup", "image_dedup_clusters"],
     "change": "connected_components gained a count-gated small-graph "
               "fast path (exact driver union-find below 100k edges, "
               "label-identical; the star contraction stays the scale "
               "path and both paths are equivalence-pinned): the "
               "contraction's per-round job latency was 2-3s of pure "
               "scheduler overhead on the hundreds-of-edges dup graphs "
               "at bench scale.  Pinned microbench medians (n=3, same "
               "box): dedup_clusters 6.40 -> 4.48, dedup_keep_best "
               "6.09 -> 3.80, semantic_dedup 6.45 -> 3.71; "
               "image_dedup_clusters 2.52 after.  A plan change, not a "
               "measurement change — results bit-identical "
               "(oracle-pinned at sf0.001/0.01)."},
    {"round": 12, "queries": ["minhash_pairs", "ngram_jaccard",
                              "incremental_dedup", "quantile_bins",
                              "containment_pairs"],
     "change": "r11-drift attribution (r11 VERDICT ask #2), measured "
               "with tools/microbench.py (fresh session, bench.py's "
               "warm-up, 5 repeats per query, release_cached between, "
               "MEDIAN compared) A/B-ing HEAD against the r10 tip "
               "e92abb3 back-to-back on one box: minhash_pairs 1.78 "
               "vs 1.84, ngram_jaccard 1.98 vs 1.84, incremental_dedup "
               "3.81 vs 3.53, quantile_bins 3.33 vs 3.29, control "
               "ivf_train 3.10 vs 3.23 — code-attributable delta is "
               "within the control's +-8% noise band on every family "
               "member, i.e. the code is FLAT r10->r12 (the judge's "
               "byte-identical diff confirmed the same from the other "
               "side).  containment_pairs 2.71 vs 1.86 is the r11 "
               "hot-shingle cap-probe rewrite already on the books "
               "above.  Both checkouts run ~25-35% slower than the "
               "BENCH_r10 artifact's recorded 1.44/1.50/2.62 on "
               "today's box, so the r10-artifact-vs-r11-probe drift "
               "is ENVIRONMENTAL (box/page-cache/CPU state between "
               "round recordings), not a plan or session-shape "
               "regression.  The microbench medians above are the "
               "pinned comparison basis for this family going "
               "forward; re-pin with the same command before reading "
               "any future family drift as real."},
    {"round": 12, "queries": "all (hot box only)",
     "change": "when the 1-min load average at session start exceeds "
               "2.0, every query records min-of-2 and the >2s tail "
               "min-of-3 (r11 VERDICT ask #6: BENCH_r11's hot-box run "
               "recorded a uniform ~1.55x inflation verbatim).  On a "
               "quiet box the basis is unchanged from r10/r11."},
    {"round": 8, "queries": ["ewma", "fill_linear", "chunk_sum",
                             "chunk_dist", "window_dist", "pack_shards",
                             "pack_sequences", "weighted_sample",
                             "window_while_par", "rolling_corr",
                             "asof_join", "fill_forward"],
     "change": "bucketed-substrate cut lookup moved off generated code "
               "entirely (r7 VERDICT ask #3): bucket id is now the "
               "vectorized Arrow binary search (np.searchsorted, the "
               "former >128-cut path) at EVERY cut count, and the "
               "census offset patch rides a references[]-carried array "
               "literal, so cut/offset VALUES never appear in codegen "
               "source and the ~0.3-0.9s per-cut-set Janino+JIT "
               "compile tax is gone (also faster steady-state: "
               "O(log n) C search vs O(n) compiled comparisons; "
               "measured -20% cold across the 12 substrate queries at "
               "sf0.1).  Results bit-identical (oracle-pinned)."},
]


def _previous_bench() -> tuple[str, dict[str, float]] | None:
    """Newest committed BENCH_r{N}.json next to this file, if any.

    Handles both line formats: the pre-r8 `queries` name->sec dict and
    the r8+ `qv` array (reconstructed against the CURRENT sorted
    registry — names added since that bench simply won't match and
    show as NEW, which is the right signal).
    """
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, p)
    if best is None:
        return None
    try:
        with open(best[1]) as f:
            prev = json.load(f)
        # the driver wraps this script's JSON line under "parsed"
        if isinstance(prev.get("parsed"), dict):
            prev = prev["parsed"]
        if isinstance(prev.get("queries"), dict):
            return os.path.basename(best[1]), dict(prev["queries"])
        if isinstance(prev.get("qv"), list):
            names = sorted(entrymod._all_queries())
            # the qv array is positional: zipping it against a registry
            # that gained/renamed/lost ANY query shifts the sort order
            # and misattributes every timing after the insertion point
            # (ADVICE r8).  Only trust it when the recorded registry
            # hash (r9+) or, failing that, the exact count matches.
            if prev.get("qh") is not None:
                if prev["qh"] != _registry_hash(names):
                    return None
            elif len(names) != len(prev["qv"]):
                return None
            return (os.path.basename(best[1]),
                    dict(zip(names, prev["qv"])))
        return None
    except Exception:
        return None


def _registry_hash(names: list[str]) -> str:
    """Short stable hash of the sorted registry name list — recorded in
    the JSON line (`qh`) so a later bench knows whether a prior `qv`
    array is positionally comparable."""
    import hashlib

    return hashlib.sha256("\n".join(names).encode()).hexdigest()[:10]


def _report_deltas(timings: dict[str, float]) -> None:
    prev = _previous_bench()
    if prev is None:
        return
    fname, prev_q = prev
    flagged = []
    for name, t in timings.items():
        p = prev_q.get(name)
        if p is None:
            print(f"# delta {name}: NEW ({t:.2f}s)", file=sys.stderr)
            continue
        d = t - p
        print(f"# delta {name}: {p:.2f}s -> {t:.2f}s ({d:+.2f}s)",
              file=sys.stderr)
        if t > p * REGRESSION_FACTOR and d > REGRESSION_MIN_ABS:
            flagged.append((name, p, t))
    for name, p, t in flagged:
        print(f"# REGRESSION {name}: {p:.2f}s -> {t:.2f}s "
              f"(>{REGRESSION_FACTOR}x vs {fname})", file=sys.stderr)


def _write_notes(timings: dict[str, float], total: float, sf,
                 cpus: int, repeats: dict[str, list[float]],
                 fixture_sec: float | None = None,
                 steals: dict[str, float] | None = None,
                 run_steal: float | None = None,
                 probe_steal: float | None = None) -> None:
    """Full per-query detail + accounting prose, committed with the
    round (the stdout line stays compact for the driver's tail)."""
    here = os.path.dirname(os.path.abspath(__file__))
    lines = [
        "# BENCH_NOTES — full per-query detail for the latest bench run",
        "",
        f"Run: sf={sf}, local[{cpus}], {len(timings)} registered "
        f"queries, total {total:.1f}s.  The stdout JSON line's `qv` "
        "array follows the sorted query-name order below.  Queries "
        f"whose first run exceeded {REPEAT_THRESHOLD}s were re-run once "
        "and report the MIN (r9 ask #6); on a hot box (load0 > "
        f"{HOT_LOAD_THRESHOLD}) every query is min-of-2 and the tail "
        "min-of-3 (r11 ask #6); all raw runs are listed below."
        + (f"  Media-fixture parquet cache build (warm-up, excluded "
           f"from every query timing): {fixture_sec}s."
           if fixture_sec is not None else ""),
        "",
        "## qv name-mapping recipe (for the driver's parser — r15 ask #8)",
        "",
        "The stdout line's `qv` array is positional over the SORTED",
        "registry query names: `names = sorted(__spark_entry__."
        "_all_queries())` at the recorded commit; `dict(zip(names, qv))`",
        "reconstructs the name -> seconds mapping.  `qh` is",
        "`sha256('\\n'.join(names)).hexdigest()[:10]` — two artifacts are",
        "positionally comparable iff their `qh` match.  The same mapping,",
        "already materialized, is the JSON block below.",
        "",
        "## Per-query wall clock (sec)",
        "",
        "```json",
        json.dumps(timings, indent=1, sort_keys=True),
        "```",
        "",
        "## Repeated heavy-tail queries (raw [run1, run2], min recorded)",
        "",
        "```json",
        json.dumps(repeats, indent=1, sort_keys=True),
        "```",
        "",
        "## CPU steal (hypervisor contention — r14 ask #2)",
        "",
        f"Pre-run full-core probe: {probe_steal}%.  Whole-run steal: "
        f"{run_steal}% (percent of this VM's CPU demand the host gave "
        "to a co-tenant; >~8% under load means the wall clocks above "
        "are inflated by contention this VM cannot see in loadavg).  "
        "Queries whose RECORDED (min) run still had >5% steal after "
        "the steal-rerun guard:",
        "",
        "```json",
        json.dumps({k: v for k, v in sorted((steals or {}).items())
                    if v > 5.0}, indent=1, sort_keys=True),
        "```",
        "",
        "## Measurement-basis accounting history",
        "",
        "```json",
        json.dumps(ACCOUNTING_CHANGES, indent=1),
        "```",
        "",
    ]
    with open(os.path.join(here, "BENCH_NOTES.md"), "w") as f:
        f.write("\n".join(lines))


def warm_up(spark, sf_dir: str, cpus: int) -> tuple[float, float]:
    """The warm-up every query harness (this file, tools/microbench.py,
    tools/profile_query.py) runs OUTSIDE its timed loop; returns
    (warm-up seconds, fixture-cache seconds).

    JVM/codegen spin-up, parquet footer reads and the first-shuffle
    machinery would otherwise land in whichever query runs first; the
    Python/Arrow UDF workers are spun up (one per core) so the first
    pandas-UDF query measures its plan, not worker cold-start.  Then
    warm_fixture_caches builds the media fixture parquet caches and the
    registered queries' clone-transform caches (trim / resample / crop
    re-uploads), so media queries measure the operator, not the fixture
    encode."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    entrymod.q_group_agg(spark, sf_dir).count()
    entrymod.q_asof_join(spark, sf_dir).count()
    _warm = F.pandas_udf(lambda v: v * 1.0, "double")
    spark.range(10_000).repartition(cpus).select(
        _warm(F.col("id").cast("double"))).count()
    warm_sec = time.time() - t0
    return warm_sec, entrymod.warm_fixture_caches(spark, sf_dir)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # load guard (r14 ask #2a): refuse to record on a hot box — wait
    # for quiet, up to the budget, BEFORE the JVM spins up
    waited = 0
    load0 = round(os.getloadavg()[0], 1)
    while load0 > HOT_LOAD_THRESHOLD and waited < LOAD_WAIT_BUDGET:
        if waited == 0:
            print(f"# load guard: load0={load0} > "
                  f"{HOT_LOAD_THRESHOLD}, waiting for a quiet box "
                  f"(budget {LOAD_WAIT_BUDGET}s)", file=sys.stderr)
        time.sleep(LOAD_POLL_SEC)
        waited += LOAD_POLL_SEC
        load0 = round(os.getloadavg()[0], 1)
    if waited:
        print(f"# load guard: proceeding at load0={load0} after "
              f"{waited}s wait", file=sys.stderr)
    spark = get_spark(
        app_name="fsharp_dataframe_spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    # steal probe (r14 ask #2b): a full-core JVM burn long enough to
    # read /proc/stat steal under the load we are about to generate —
    # load average cannot see a co-tenant VM, steal time can.  Wait
    # (within the shared budget) until a probe comes back clean.
    probe_steal = None
    while waited < LOAD_WAIT_BUDGET:
        a = _cpu_times()
        spark.range(4_000_000_000).selectExpr("sum(id % 1000)").collect()
        probe_steal = round(_steal_pct(a, _cpu_times()), 1)
        if probe_steal <= STEAL_THRESHOLD_PCT:
            break
        print(f"# steal probe: {probe_steal}% CPU stolen under "
              f"full-core load (> {STEAL_THRESHOLD_PCT}%) — "
              f"co-tenant contention, waiting", file=sys.stderr)
        time.sleep(LOAD_POLL_SEC)
        waited += LOAD_POLL_SEC
    print(f"# steal probe: {probe_steal}%", file=sys.stderr)
    qs = entrymod._all_queries()
    names = sorted(qs)  # the `qv` order — reconstructible from the repo
    warm_sec, fixture_sec = warm_up(spark, sf_dir, cpus)
    print(f"# warmup: {warm_sec:.2f}s", file=sys.stderr)
    print(f"# media fixture + clone caches: {fixture_sec}s "
          "(excluded from query timings)", file=sys.stderr)
    from fsharp_dataframe_spark.functions.util import release_cached

    # r16 (VERDICT r15 ask #5): a box that exhausted the wait budget —
    # for load OR for a clean steal probe — is contended even if the
    # reading dipped at the moment the loop gave up; force the hot-box
    # min-of-N basis in that case instead of trusting the dip.
    hot = (load0 > HOT_LOAD_THRESHOLD
           or waited >= LOAD_WAIT_BUDGET
           or (probe_steal is not None
               and probe_steal > STEAL_THRESHOLD_PCT))
    if hot:
        print(f"# HOT BOX (load0={load0}, waited={waited}s, "
              f"probe_steal={probe_steal}%): min-of-2 for all queries, "
              f"min-of-3 for the >{REPEAT_THRESHOLD}s tail "
              "(r11 ask #6 + r15 ask #5)", file=sys.stderr)
    timings: dict[str, float] = {}
    repeats: dict[str, list[float]] = {}
    steals: dict[str, float] = {}  # steal% of the RECORDED (min) run
    run_cpu0 = _cpu_times()
    for name in names:
        q = qs[name]
        c0 = _cpu_times()
        t0 = time.time()
        n = q(spark, sf_dir).count()
        t1 = round(time.time() - t0, 3)
        st1 = round(_steal_pct(c0, _cpu_times()), 1)
        # release the query's persisted sketch relations so 160+
        # queries' cached blocks don't pile up in one session
        # (storage-memory pressure evicts/recomputes and skews later
        # timings) — and so a repeat below pays the same standalone cost
        release_cached()
        runs, rsteals = [t1], [st1]
        # quiet box: min-of-2 on the >threshold tail (r9 ask #6);
        # hot box: min-of-2 everywhere, min-of-3 on the tail (r11 #6);
        # stolen best run: up to STEAL_RERUN_CAP extra reruns until a
        # clean measurement exists (r14 ask #2 — min-of-N alone was
        # shown not to converge under SUSTAINED contention)
        want = (3 if t1 > REPEAT_THRESHOLD else 2) if hot else (
            2 if t1 > REPEAT_THRESHOLD else 1)
        while True:
            if len(runs) < want:
                pass  # scheduled repeat still owed
            elif (rsteals[runs.index(min(runs))] > STEAL_THRESHOLD_PCT
                  and len(runs) < want + STEAL_RERUN_CAP):
                pass  # best run was stolen from — earn a clean one
            else:
                break
            c0 = _cpu_times()
            t0 = time.time()
            q(spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
            rsteals.append(round(_steal_pct(c0, _cpu_times()), 1))
            release_cached()
        if len(runs) > 1:
            repeats[name] = runs
        timings[name] = min(runs)
        steals[name] = rsteals[runs.index(min(runs))]
        tag = (f" (min of {repeats[name]})" if name in repeats else "")
        if steals[name] > STEAL_THRESHOLD_PCT:
            tag += f" [STOLEN {steals[name]}%]"
        print(f"# {name}: {timings[name]:.2f}s rows={n}{tag}",
              file=sys.stderr)
    run_steal = round(_steal_pct(run_cpu0, _cpu_times()), 1)
    total = round(sum(timings.values()), 3)
    _report_deltas(timings)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    _write_notes(timings, total, sf_val, cpus, repeats, fixture_sec,
                 steals, run_steal, probe_steal)
    line = json.dumps({
        "metric": "registry_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(names),
        "order": "sorted-registry-names",
        "notes": "BENCH_NOTES.md",
        "qh": _registry_hash(names),
        # contention marker (r8 VERDICT ask #5): 1-min load average at
        # start/end — a hot box inflates every wall clock and this
        # makes the artifact self-attributing (r8's driver bench ran
        # ~53% hot vs two solo runs with no way to see it)
        "load": [load0, round(os.getloadavg()[0], 1)],
        # seconds the load guard waited for a quiet box before the
        # session started (0 = started quiet; budget exhausted if
        # load[0] still exceeds HOT_LOAD_THRESHOLD)
        "w": waited,
        # CPU steal percent: [pre-run full-core probe, whole run] —
        # the co-tenant-contention instrument (r14 ask #2); >~8%
        # under load marks a recording inflated by the host, not code
        "st": [probe_steal, run_steal],
        # how many qv entries are a min over repeats (>threshold tail
        # on a quiet box — r9 ask #6; every query on a hot box — r11
        # ask #6); which ones and the raw runs are in BENCH_NOTES.md
        "m2": len(repeats),
        "qv": [round(timings[n], 2) for n in names],
    }, separators=(",", ":"))
    assert len(line) < MAX_LINE, (
        f"stdout line {len(line)} chars breaches the driver's "
        f"{MAX_LINE}-char tail budget — trim the payload")
    print(line)


if __name__ == "__main__":
    main()
