#!/usr/bin/env python3
"""Differential fuzzer for the boundary-sensitive catalog rows.

Generates seeded random document corpora (perturbed resamples of
/root/testdata/sf0.001 — doc counts, text lengths and score spreads all
vary, so quantile cuts, bin edges and keep thresholds land on fresh
boundaries every seed), runs `graft.Verify` on each with a
boundary-sensitive query subset, and gates against DuckDB exactly like
the driver. The p41/p54 interpolated-tercile flip (r11) was exactly the
class this catches: green at the fixed SFs, red on the one corpus that
put a doc on the cut.

Modes:
  python3 tools/fuzz_gate.py [nSeeds [querySubset]]
      oracle sweep: nSeeds resampled corpora (default 5), each gated on
      querySubset (default: the cut/bin/threshold rows in SENSITIVE)
  python3 tools/fuzz_gate.py mm
      the two 10x multimodal pathological corpora, gated on m06-m08

Any other argument prints this usage and exits 2. The index-lifecycle
differentials (term, shingle, IVF and refresh) run in the unit suite as
`LifecycleSpec`.
"""
import os
import subprocess
import sys

import duckdb

BASE = "/root/testdata/sf0.001"
# every row with a cut/bin/tie/rank the resamples can move: quantile cuts
# (p41/p54/p57/p58/p60), bin edges (p33/p70/p73), keep thresholds
# (p43/p59/p66/p77), gate compositions + cluster ranks (p22/p38/p72),
# the salted per-nation top-k (q08, driven by the orders resample), the
# as-of/window boundaries (q12/q13), and the manifest family (p78-p80)
SENSITIVE = ("p41,p54,p57,p58,p59,p60,p67,p68,p70,p73,p77,p78,p79,p80,"
             "p22,p38,p72,q08,p33,p43,p66,q07,q12,q13,"
             # the events resample punches fresh holes in the hourly grid
             # every seed — a live differential gate on the Holt-Winters
             # NaN-break recurrence (r12 port)
             "g42,g117,g132,"
             # the perceptual-dedup signatures: the doc resample +
             # pathological text corners (empty/whitespace docs, the
             # non-ASCII 'naïve' — Spark ascii(chr(239)) = 239 = DuckDB
             # ord, verified codepoint-based on both engines) hit the
             # sampling and segment-boundary math every seed (r12)
             "m06,m07,m08,"
             # r13: the split lineage matrices (fresh cluster shapes and
             # min-label deletions every resample), the term-index family
             # (postings/tombstones over empty/whitespace/non-ASCII docs),
             # and the BM25/RRF rank math (fresh df/dl/tie structure)
             "p81,p82,p83,p84,p85,p86,p87,p88,p89,p90,q18,q19,"
             # r14: the maintained-index ranking rows (BM25/phrase over
             # delta segments + tombstones), prefix retrieval, and the
             # incremental split-churn matrix (fresh blast radii and
             # df-crossing structure every resample)
             "p91,p92,p93,p94,p95,"
             # r15: term autocomplete (fresh prefix-vocabulary df/tie
             # structure every resample; p96 has no oracle — its lifecycle
             # runs under LifecycleSpec + the PipelineSpec gates)
             "p97")


def gen_corpus(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    # out_dir persists in /tmp across runs: an older run's passthrough
    # SYMLINK (e.g. orders.parquet -> the golden testdata) must be removed
    # before COPY, or DuckDB follows it and silently overwrites the golden
    # parquet. Unlink every COPY target (and stale symlinks generally)
    # up front.
    for t in ("documents", "embeddings", "events", "orders"):
        dst = f"{out_dir}/{t}.parquet"
        if os.path.lexists(dst):
            os.unlink(dst)
    con = duckdb.connect()
    # deterministic perturbation: resample with a seed-keyed LCG filter
    # (varies n), duplicate a seed-dependent slice (plants dup/tie mass),
    # and append a few synthetic extreme docs (empty-ish, one-word, long)
    con.execute(f"""
      COPY (
        WITH base AS (SELECT * FROM '{BASE}/documents.parquet'
                      WHERE (doc_id * 2654435761 + {seed}) % 1000000007 % 10
                            < 6 + {seed} % 4),
        dup AS (SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
                FROM base WHERE doc_id % (7 + {seed} % 5) = 0),
        extra AS (
          SELECT * FROM (VALUES
            (200001, 'one', 'en', 'src1', 3),
            (200002, repeat('tie tie tie ', 3 + {seed} % 3), 'en', 'src2', 36),
            (200003, repeat('zz qq ww ee rr ', 40), 'en', 'src0', 600),
            -- pathological shapes the resamples can't reach: empty doc,
            -- whitespace-only doc, one max-length token, single unicode
            -- word (zero-token and one-token corners of every ratio/cut)
            (200004, '', 'en', 'src3', 0),
            (200005, '  \t  ', 'en', 'src1', 5),
            (200006, repeat('a', 3000 + {seed} % 100), 'en', 'src2', 3000),
            (200007, 'naïve', 'fr', 'src0', 5))
            t(doc_id, text, lang, source, n_chars))
        SELECT * FROM base UNION ALL SELECT * FROM dup
        UNION ALL SELECT * FROM extra
      ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")
    # the sensitive subset also touches embeddings (p57) — resample those
    con.execute(f"""
      COPY (SELECT * FROM '{BASE}/embeddings.parquet'
            WHERE (vec_id * 2654435761 + {seed}) % 1000000007 % 10
                  < 6 + {seed} % 4)
      TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)""")
    # events variant for the as-of / window / session rows: resample, then
    # PLANT exact-timestamp collisions — a seed-dependent slice of views
    # is snapped onto purchase timestamps of the same user, exercising
    # q12's inclusive `asof <=` boundary and its per-(user, ts) feature
    # dedup, and q13's exclusive right endpoint, on fresh rows every seed
    con.execute(f"""
      COPY (
        WITH base AS (SELECT * FROM '{BASE}/events.parquet'
                      WHERE (event_id * 2654435761 + {seed}) % 1000000007 % 10
                            < 6 + {seed} % 4),
        buy AS (SELECT user_id, ts,
                       row_number() OVER (ORDER BY event_id) AS rn
                FROM base WHERE event_type = 'purchase'),
        snap AS (
          SELECT b.event_id + 900000000 AS event_id, b.ts0 AS ts, b.user_id,
                 b.event_type, b.value, b.props
          FROM (SELECT e.*, e.ts AS _ets, bu.ts AS ts0,
                       row_number() OVER (PARTITION BY e.event_id
                                          ORDER BY bu.rn) AS pick
                FROM base e JOIN buy bu USING (user_id)
                WHERE e.event_type = 'view'
                  AND (e.event_id + {seed}) % 11 = 0) b
          WHERE b.pick = 1)
        SELECT * FROM base UNION ALL SELECT * FROM snap
      ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)""")
    # orders resample so q08's salted per-nation top-k sees fresh tie
    # structure every seed (customer/nation stay intact — only the group
    # contents vary)
    con.execute(f"""
      COPY (SELECT * FROM '{BASE}/orders.parquet'
            WHERE (o_orderkey * 2654435761 + {seed}) % 1000000007 % 10
                  < 6 + {seed} % 4)
      TO '{out_dir}/orders.parquet' (FORMAT PARQUET)""")
    # remaining tables: passthrough links so Verify's fixture reads resolve
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    con.close()


def gen_mm_corpus(mode: str, out_dir: str) -> None:
    """10× multimodal pathological corpora (r13): the banding
    collision-density claim's two worst cases. 'identical' repeats every
    base doc 10× with UNCHANGED text — every copy family lands in the same
    band buckets, max collision density (the pair set goes quadratic IN THE
    FAMILY, by design — candidates track true duplicate mass). 'distinct'
    appends a per-(copy, doc) unique token — zero cross-copy collisions.
    The copy offset is divisible by 30 so copies keep their modality class
    (doc_id % 3) and their planted-seed membership (doc_id % 30), and stays
    under the +30M planted-dup id space. m06/m07's oracles replay the same
    construction in SQL, so gate.py checks the full pair set both ways."""
    os.makedirs(out_dir, exist_ok=True)
    for t in ("documents",):
        dst = f"{out_dir}/{t}.parquet"
        if os.path.lexists(dst):
            os.unlink(dst)
    con = duckdb.connect()
    uniq = ("CASE WHEN i > 0 THEN text || ' uq' || CAST(i AS VARCHAR) "
            "|| '_' || CAST(doc_id AS VARCHAR) ELSE text END"
            if mode == "distinct" else "text")
    con.execute(f"""
      COPY (
        WITH c AS (SELECT unnest(generate_series(0, 9)) AS i)
        SELECT doc_id + i * 3000000 AS doc_id, {uniq} AS text,
               lang, source, n_chars
        FROM '{BASE}/documents.parquet' CROSS JOIN c
      ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.lexists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    con.close()


def run_gate(repo: str, sf_dir: str, out_dir: str, subset: str, label: str) -> bool:
    """Run Verify + gate.py on one corpus; True = clean."""
    try:
        r = subprocess.run(
            ["sbt", "-batch", f'set run/envVars := Map("SPARK_GRAFT_ONLY" -> "{subset}")',
             f"runMain graft.Verify {sf_dir} {out_dir}"],
            cwd=repo, capture_output=True, text=True, timeout=1800)
    except subprocess.TimeoutExpired:
        print(f"{label}: Verify TIMED OUT (1800s)")
        return False
    if r.returncode != 0:
        print(f"{label}: Verify FAILED\n{r.stdout[-2000:]}")
        return False
    try:
        g = subprocess.run(
            [sys.executable, f"{repo}/tools/gate.py", out_dir, sf_dir, subset],
            capture_output=True, text=True, timeout=600)
    except subprocess.TimeoutExpired:
        print(f"{label}: gate TIMED OUT (600s)")
        return False
    line = (g.stdout.strip().splitlines() or ["<no output>"])[-1]
    print(f"{label}: {line}")
    if g.returncode != 0:
        print(g.stdout[-3000:])
        return False
    return True


def main_mm() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    failures = 0
    for mode in ("identical", "distinct"):
        sf_dir = f"/tmp/graft_fuzz/mm_{mode}"
        gen_mm_corpus(mode, sf_dir)
        if not run_gate(repo, sf_dir, f"/tmp/graft_fuzz/mm_out_{mode}",
                        "m06,m07,m08", f"mm_{mode}"):
            failures += 1
    print(f"mm fuzz: {2 - failures}/2 corpora clean")
    return 1 if failures else 0


USAGE = """usage: python3 tools/fuzz_gate.py [nSeeds [querySubset]]
       python3 tools/fuzz_gate.py mm"""


def main() -> int:
    args = sys.argv[1:]
    if args == ["mm"]:
        return main_mm()
    if args and not args[0].isdigit() or len(args) > 2:
        print(USAGE, file=sys.stderr)
        return 2
    n_seeds = int(args[0]) if args else 5
    subset = args[1] if len(args) > 1 else SENSITIVE
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    failures = 0
    for seed in range(1, n_seeds + 1):
        sf_dir = f"/tmp/graft_fuzz/corpus_{seed}"
        gen_corpus(seed, sf_dir)
        if not run_gate(repo, sf_dir, f"/tmp/graft_fuzz/out_{seed}", subset,
                        f"seed {seed}"):
            failures += 1
    print(f"fuzz: {n_seeds - failures}/{n_seeds} seeds clean")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
