"""Static audit of the two confirmed cross-engine hazard classes
(VERDICT r6 next-round #4) over every oracle in oracle_sql():

  A. WINDOW NULL-ORDERING — every window ORDER BY key in an oracle,
     classified:
       pinned        explicit NULLS FIRST/LAST
       flag-guarded  a leading (k IS NOT NULL) boolean key
       filtered      the oracle filters the key's source NULL-free
                     (WHERE ... IS NOT NULL appears for the key)
       nonnull       key is non-null by construction (row_number,
                     rank, count, ntile, generate_series grains)
       UNGUARDED     none of the above — review by hand
     Spark sorts ASC NULLS FIRST, DuckDB NULLS LAST, so any UNGUARDED
     nullable ASC key is a live silent-values channel.  DATE-typed
     keys are worse: DuckDB 1.0.0's window sort mis-places or DROPS
     NULL DATE rows regardless of pin (measured, r7) — the only safe
     mirror is filtering NULL dates out before the window.

  B. INT64 SCALING — every `* 1000000`-class multiplication in an
     oracle, classified WIDENED if the multiplicand text carries a
     HUGEINT/DECIMAL cast or comes from a sum() (DuckDB promotes
     sum(BIGINT) to HUGEINT), else UNWIDENED for review.  Spark wraps
     silently with ANSI off; DuckDB either stays exact (HUGEINT) or
     errors — both divergence signatures.

The static pass is the MAP; the hostile-data sweep
(tools/check_oracle.py over testdata_hostile_nonan, NULLs in
every nullable column + int64-edge magnitudes) is the TERRITORY — a
site is only proven safe by the sweep's full-registry PASS.  Run both.

Usage: python tools/audit_hazards.py [--verbose]
Writes docs/HAZARD_AUDIT.md and prints the summary counts.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NONNULL_FUNCS = re.compile(
    r"\b(row_number|rank|dense_rank|ntile|count)\s*\(|generate_series|"
    r"\brn\b|\bisland\b|\bsession_id\b|\bburst_id\b|\bchunk_start\b"
)
# identifiers that are NON-NULL by fixture schema (primary keys /
# generated ids / grains derived from them)
NONNULL_IDS = re.compile(
    r"\b(doc_id|vec_id|event_id|o_orderkey|o_custkey|l_orderkey|"
    r"l_partkey|l_linenumber|p_partkey|s_suppkey|c_custkey|n_nationkey|"
    r"r_regionkey|user_id|decile|quintile|bucket|seg|cell|lag_k|b|i|g|"
    r"band|shard_id|pos|idx|k|ts_us)\b"
)
PIN = re.compile(r"NULLS\s+(FIRST|LAST)", re.I)
FLAG = re.compile(r"IS\s+NOT\s+NULL\s*\)", re.I)
SCALE = re.compile(r"\*\s*(1000000000|1000000|10000|100)\b")
WIDE = re.compile(r"HUGEINT|DECIMAL\s*\(|INT128", re.I)


def split_keys(order_clause: str) -> list[str]:
    # split on commas not inside parens
    keys, depth, cur = [], 0, []
    for ch in order_clause:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            keys.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        keys.append("".join(cur).strip())
    return [k for k in keys if k]


def window_order_clauses(sql: str) -> list[str]:
    out = []
    for m in re.finditer(r"ORDER BY", sql):
        # only windows: inside OVER (...) or WINDOW w AS (...)
        prefix = sql[: m.start()]
        # find the nearest unclosed '(' before this ORDER BY
        depth = 0
        opened = None
        for i in range(m.start() - 1, -1, -1):
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    opened = i
                    break
                depth -= 1
        if opened is None:
            continue  # top-level ORDER BY — comparator sorts anyway
        head = sql[max(0, opened - 30) : opened].upper()
        if "OVER" not in head and "AS" not in head:
            continue
        # clause text: from ORDER BY to the matching close paren /
        # frame spec
        rest = sql[m.end() :]
        depth = 0
        end = len(rest)
        for i, c in enumerate(rest):
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
        clause = rest[:end]
        clause = re.split(
            r"\b(ROWS|RANGE|GROUPS)\s+BETWEEN|\b(ROWS|RANGE|GROUPS)\s+UNBOUNDED",
            clause,
        )[0]
        out.append(clause.strip())
    return out


def classify_key(key: str, sql: str) -> str:
    # strip table qualifiers (`c.vec_id` -> `vec_id`) so the
    # non-null-id classifier sees the column, not the alias
    key = re.sub(r"\b[A-Za-z_][A-Za-z_0-9]*\.", "", key)
    if PIN.search(key):
        return "pinned"
    if FLAG.search(key) or key.strip().upper().startswith("("):
        if "IS NOT NULL" in key.upper():
            return "flag-guarded"
    if re.search(r"\bDESC\b", key, re.I):
        # Spark DESC defaults NULLS LAST and so does DuckDB — the one
        # direction the engines agree on
        return "desc-agreeing"
    if NONNULL_FUNCS.search(key):
        return "nonnull"
    base_ids = re.sub(r"\s+(ASC|DESC)\s*$", "", key.strip(), flags=re.I)
    idents = re.findall(r"[A-Za-z_][A-Za-z_0-9]*", base_ids)
    if idents and all(
        NONNULL_IDS.fullmatch(i) or i in ("epoch_us", "CAST", "AS",
                                          "BIGINT", "abs", "md5", "VARCHAR")
        for i in idents
    ):
        return "nonnull"
    base = re.sub(r"\s+(ASC|DESC)(\s+LIMIT\s+\d+)?\s*$", "", key.strip(),
                  flags=re.I)
    ident = re.findall(r"[A-Za-z_][A-Za-z_0-9]*", base)
    # derived-key -> source-column map (the oracles alias epoch/date
    # derivations of ts / o_orderdate under these short names)
    derived = {
        "t": ["ts"], "us": ["ts"], "day": ["ts", "o_orderdate"],
        "od": ["o_orderdate"], "month": ["o_orderdate"],
        "ym": ["o_orderdate"], "month_idx": ["o_orderdate"],
        "vq": ["value"], "x": ["value", "ts"], "y": ["value", "ts"],
        "q": ["value", "n_chars"], "slope": ["value", "ts"],
        "s": ["ts"], "e": ["ts"],
        "price_cents": ["l_extendedprice", "o_totalprice"],
    }
    candidates = set(ident)
    for i in ident:
        candidates.update(derived.get(i, []))
    for name in candidates:
        if re.search(
            rf"\b{re.escape(name)}\b\s+IS\s+NOT\s+NULL", sql, re.I
        ):
            return "filtered"
    return "UNGUARDED"


# ---------------------------------------------------------------------------
# Per-site dispositions (VERDICT r7 #6): every residual UNGUARDED window
# key and UNWIDENED scaling carries a one-line justification. A site
# with no disposition is listed UNANNOTATED — widen/pin it or add an
# (honest) line here. Keys: (query, normalized key text) for windows;
# ordered regex rules over the snippet for scalings (first match wins).
WINDOW_DISPOSITIONS = {
    ("minhash_near_dup", "d.df ASC"):
        "r11 candidate+verify oracle: df = count(*) from the docfreq "
        "aggregate — non-null by construction; full order pinned by the "
        "p.tok ASC tiebreaker",
    ("minhash_near_dup", "p.tok ASC"):
        "tok is an unnested shingle built by array_to_string over a "
        "split of WHERE-text-IS-NOT-NULL rows (grp filters), and the "
        "USING(tok) equi-join to docfreq drops any NULL anyway — "
        "non-null by construction",
    ("event_burstiness", "epoch_us(ts)"):
        "lag-gap over a BIGINT key: gaps touching a NULL-positioned row "
        "are NULL and filtered (WHERE g IS NOT NULL) on both sides; NULL "
        "placement at either end leaves identical surviving gaps",
    ("gap_percentile_slo", "epoch_us(ts)"):
        "lag-gap over a BIGINT key; NULL-adjacent gaps are NULL and "
        "filtered on both sides (WHERE gap_s IS NOT NULL)",
    ("interarrival_histogram", "t"):
        "lag-gap over BIGINT epoch_us; NULL-adjacent gaps are NULL and "
        "filtered on both sides (WHERE gap_us IS NOT NULL)",
    ("user_value_twap", "t"):
        "lead-gap over BIGINT epoch_us; NULL-adjacent durations are NULL "
        "and filtered on both sides (WHERE dur IS NOT NULL)",
    ("gap_filled_daily_revenue", "day"):
        "window input is the generated spine (generate_series over "
        "non-null min/max bounds); a NULL-day daily group can never "
        "equi-join into it — key non-null by construction",
    ("rfm_segments", "frequency"):
        "count(*) is non-null by construction; the nullable o_custkey "
        "tiebreaker is pinned NULLS FIRST (r8)",
    ("survival_first_purchase", "t"):
        "t = coalesce(conv.t, cens.t) of two WHERE-IS-NOT-NULL-filtered "
        "keys — non-null by construction",
    ("tfidf_top_terms", "term ASC"):
        "terms come from split+explode/unnest of text: NULL text yields "
        "zero rows on both engines, so term is never NULL",
    ("user_purchase_streaks", "day"):
        "NULL day forms its own island on both engines; the NULLS-"
        "placement row_number shift changes island LABELS uniformly, not "
        "the (user,island) grouping, and labels are not output",
    ("weekly_ohlc", "t"):
        "t is NULL iff the wk partition key is NULL (both derive from "
        "ts); within the all-NULL-t partition the non-null event_id "
        "tiebreaker fully orders rows identically on both engines",
    ("zipf_exponent", "tok ASC LIMIT 200"):
        "tokens from split of text are never NULL (WHERE tok <> '' also "
        "excludes NULL on both engines)",
    ("zipf_exponent", "tok ASC"):
        "same: split-derived token, never NULL",
    ("zipf_exponent", "slope"):
        "slope operands lf/lr derive from non-null f and row_number; "
        "the a.lr < b.lr join predicate guarantees a nonzero divisor — "
        "non-null by construction",
    # r10: the three sites below were TOP-LEVEL ORDER BYs until the r9
    # _EMIT_BIGINT wrapper nested each oracle inside FROM (...) __emit,
    # which moved them into subquery position where this detector sees
    # them. Semantics unchanged from their (safe) r8 top-level form.
    ("bpe_pair_counts", "pair ASC LIMIT 20"):
        "row-selecting top-k, but both keys non-null by construction: "
        "n = sum(count(*)) over non-empty groups; pair = substr of a "
        "split-derived token (NULL text unnests to zero rows); boundary "
        "ties fully ordered by pair ASC identically on both engines",
    ("gopher_quality_filter", "lang"):
        "presentation-only subquery ORDER BY (no LIMIT) introduced by "
        "the emission wrapper's nesting — row set invariant; the "
        "comparator sorts rows anyway",
    ("q12_late_priority_lines", "l_linestatus"):
        "same: no-LIMIT subquery ORDER BY from the emission wrapper — "
        "row set invariant",
}

SCALE_DISPOSITIONS = [
    (re.compile(r"(floor|round)\s*\(\s*\(?\s*[A-Za-z_][\w.()]*\s*\)?\s*"
                r"\*\s*(100|10000)\s*(\+\s*0\.5)?\s*\)", re.I),
     "double-domain quantization: the multiply happens in DOUBLE (cannot "
     "wrap int64 silently); beyond-long magnitudes are the documented "
     "NULL-vs-error chaos-tier class; money/value columns are 2/4-decimal "
     "bounded (|x| < 4.5e13 precondition, docs/HEAD_AUDIT.md)"),
    (re.compile(r"round\s*\(\s*ln\s*\(", re.I),
     "|ln(x)| <= ~709 for any double, so the 1e6 scaling is <= 7.1e8 — "
     "five orders inside int64"),
    (re.compile(r"epoch_us|\b(1800|150|300|600|60|360|1440|48)\s*\*\s*"
                r"(3600|1000000)\b", re.I),
     "epoch-microsecond arithmetic: magnitudes ~1.7e15 plus second-to-us "
     "constants <= 1.3e11 — int64 headroom > 5000x"),
    (re.compile(r"\*\s*1000000\s*(//|%|\s*-\s*\()", re.I),
     "ppm of a COUNT/rank-bounded integer: numerators are counts or "
     "count-derived (<= rows-per-group, <= ~1e12 even at 100 TB) so "
     "x*1e6 <= 1e18 < 2^63; DuckDB BIGINT overflow errors loudly rather "
     "than wrapping, and the nonan int64-edge sweep passes"),
    (re.compile(r"(strpos|md5|substr)\(", re.I),
     "positional hex-digit arithmetic over md5 text: terms bounded by "
     "16^8 ~ 4.3e9 — six orders inside int64"),
    (re.compile(r"round\s*\(\s*\(?(h\.hll_est|est\.hll_est)", re.I),
     "relative-error percentage of an HLL estimate: |x| <= a few hundred "
     "by construction"),
    (re.compile(r"round\s*\(\s*sqrt|sqrt\s*\(\s*CAST", re.I),
     "terminal DOUBLE expression over exact integer moments (the "
     "documented text-identical-double terminal class) — no int64 path"),
    (re.compile(r"(n_tokens|n_chars|length\(|len\()", re.I),
     "ppm/ratio of text lengths: document lengths <= ~1e7 chars, so "
     "x*1e6 <= 1e13 — far inside int64"),
    (re.compile(r"9223372036854775808\.0"),
     "the r8 overflow guard itself: a DOUBLE-domain comparison, the "
     "identical expression on both engines — no int64 path"),
    (re.compile(r"(round|floor)\s*\(\s*ln\s*\(", re.I),
     "|ln(x)| <= ~709 for any double — 1e6 scaling stays <= 7.1e8"),
    (re.compile(r"DOUBLE\).{0,80}\*\s*1000000(\.0)?\s*/", re.S),
     "terminal DOUBLE expression over exact integer moments (the "
     "documented text-identical-double terminal class) — computed "
     "entirely in double, no int64 multiply"),
    (re.compile(r"round\(CAST\(embedding"),
     "unit-scale embedding component quantization: |x| = O(1) by "
     "generator, 1e4 scaling <= ~1e5"),
    (re.compile(r"TRY_CAST\(sc \* 10000"),
     "sc is an upstream sum: HUGEINT in DuckDB, DECIMAL(38,0) on the "
     "Spark side (r6 flagship widening) — product exact at any scale; "
     "TRY_CAST nulls symmetrically past int64"),
    (re.compile(r"(sum_base_price_cents|sdp|sum_qty)\s*\*\s*10000"),
     "numerator is an upstream sum: HUGEINT in DuckDB, DECIMAL(38,0) "
     "on the Spark side (r7 q1 avg-division widening) — exact at any "
     "scale"),
    (re.compile(r"l_extendedprice \* \(1 - l_discount\)|"
                r"0\.001 \* p_retailprice|\(1 - l_discount\) \* l_tax"),
     "all-DOUBLE product of bounded money columns quantized once at "
     "the end: double domain (no silent wrap); magnitude <= ~1e9 cents"),
]


def main() -> int:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    lines = ["# Hazard audit — window null-ordering + int64 scaling", ""]
    counts = {"pinned": 0, "flag-guarded": 0, "filtered": 0, "nonnull": 0,
              "desc-agreeing": 0, "UNGUARDED": 0,
              "scale_widened": 0, "scale_unwidened": 0}
    unguarded_sites = []
    unwidened_sites = []
    for name, sql in sorted(oracles.items()):
        for clause in window_order_clauses(sql):
            for key in split_keys(clause):
                cls = classify_key(key, sql)
                counts[cls] += 1
                if cls == "UNGUARDED":
                    unguarded_sites.append((name, key))
        for m in SCALE.finditer(sql):
            ctx = sql[max(0, m.start() - 160) : m.end() + 40]
            if WIDE.search(ctx) or re.search(r"sum\s*\(", ctx, re.I):
                counts["scale_widened"] += 1
            else:
                counts["scale_unwidened"] += 1
                unwidened_sites.append((name, " ".join(ctx.split())[-120:]))
    lines.append(f"counts: {counts}")
    lines.append("")
    unannotated = 0
    lines.append("## UNGUARDED window order keys — per-site dispositions (r8)")
    for name, key in unguarded_sites:
        norm = " ".join(key.split())[:100]
        disp = WINDOW_DISPOSITIONS.get((name, norm))
        if disp is None:
            unannotated += 1
            lines.append(f"- `{name}`: `{norm}` — **UNANNOTATED**")
        else:
            lines.append(f"- `{name}`: `{norm}` — {disp}")
    lines.append("")
    lines.append("## UNWIDENED scalings — per-site dispositions (r8)")
    for name, ctx in unwidened_sites:
        disp = next((d for rx, d in SCALE_DISPOSITIONS if rx.search(ctx)), None)
        if disp is None:
            unannotated += 1
            lines.append(f"- `{name}`: `...{ctx}` — **UNANNOTATED**")
        else:
            lines.append(f"- `{name}`: `...{ctx}` — {disp}")
    lines.append("")
    lines.append(
        "Empirical gate: `tools/check_oracle.py testdata_hostile_nonan`"
        " must be all-PASS — the fixture carries NULLs in every nullable"
        " column and int64-edge magnitudes, so every live site above"
        " diverges there if actually unsafe."
    )
    with open(os.path.join(REPO, "docs", "HAZARD_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"window keys: {counts}")
    print(f"unguarded: {len(unguarded_sites)}, unwidened: {len(unwidened_sites)}")
    print(f"unannotated: {unannotated}")
    return 1 if unannotated else 0


if __name__ == "__main__":
    raise SystemExit(main())
