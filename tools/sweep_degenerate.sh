#!/bin/sh
# Degenerate-input gate (r8): every registry key must be WELL-DEFINED on
# empty tables, single-row tables, and NULL-injected payload columns —
# at 100 TB an empty date partition, a tenant with no events, or a NULL
# in a value/text column is routine, and an operator that crashes there
# (seed collect()[0] -> IndexError, 1/n -> ZeroDivisionError,
# np.stack([]) -> ValueError, ANSI DIVIDE_BY_ZERO, UDF None access) or
# silently diverges from the oracle (NULL sort order, concat-vs-||,
# CASE-ELSE-0 vs boolean-cast-NULL) fails exactly when a production
# pipeline meets real data.  Runs the FULL 469-key registry,
# hash-compared against DuckDB where an oracle exists, on all seven
# fixtures.  Exit 1 on any error or mismatch.
set -e
cd "$(dirname "$0")/.."
OUT_ROOT=${OUT_ROOT:-/tmp/testdata}
# ALWAYS regenerate (r8 advice): gating on file existence silently
# reused a stale /tmp copy after a generator edit, making the gate
# report green against old data.  Each fixture takes ~1s.
for fx in sf0 sfmin sf001nulls sf001nullfk sf001uni sf001dup sf001big; do
  python tools/make_fixture.py "$fx" /root/testdata/sf0.001 "$OUT_ROOT/$fx"
done
echo "== sf0 (all tables empty) =="
I2MR_SF_DIR="$OUT_ROOT/sf0" python tools/check_oracle.py
echo "== sfmin (one row per table) =="
I2MR_SF_DIR="$OUT_ROOT/sfmin" python tools/check_oracle.py
echo "== sf001nulls (10% NULLs in payload columns) =="
I2MR_SF_DIR="$OUT_ROOT/sf001nulls" python tools/check_oracle.py
echo "== sf001nullfk (5% NULLs in join-key columns) =="
I2MR_SF_DIR="$OUT_ROOT/sf001nullfk" python tools/check_oracle.py
echo "== sf001uni (10% multibyte-unicode document text) =="
I2MR_SF_DIR="$OUT_ROOT/sf001uni" python tools/check_oracle.py
echo "== sf001dup (every document/embedding x10 identical copies) =="
I2MR_SF_DIR="$OUT_ROOT/sf001dup" python tools/check_oracle.py
echo "== sf001big (money/measure columns x1e6 — 7th leg, r10) =="
# Checked at an EXPLICIT value tolerance on THIS LEG (r11, upgraded
# from the r10 rows-only demotion; the leg now checks VALUES again —
# a wrong row/group/sign still fails, only sub-precision float drift
# passes).  Measured max relative diffs on this fixture (r11 probe):
# agg_stats 1.4e-16, udaf_weighted_avg 1.9e-15, fn_trig 4.4e-13,
# window_bollinger 2.4e-15, window_linreg_channel 1.0e-15,
# window_kama 1.8e-16 — each gate below carries ~2-3 orders of
# headroom over its measured drift, 10+ orders below a real defect.
# Original precision-bound rationale per key (SWEEP_DEGENERATE.md
# §extreme):
#   agg_stats             native var_samp: rounded variance carries 20
#                         sig digits at 1e6-scaled balances — beyond
#                         double; the key's purpose is the NATIVE agg
#                         surface, whose accumulator is order-dependent
#   udaf_weighted_avg     pandas-UDAF float accumulation order vs SQL
#                         sum order; 4-dp round at 15 sig digits
#   fn_trig               4-dp round-tie density grows with magnitude;
#                         engines' round() diverge within 1 ulp of ties
#   window_bollinger      irrational sigma bands rounded 4dp at 16 sig
#                         digits (exact-integer variance path verified;
#                         only the sub-precision display digits differ)
#   window_linreg_channel same class: 6-dp sigma bands at 17 sig digits
#   window_kama           2000-step float recursion drifts 1 ulp on 86
#                         of 2279 days at 1e11 magnitudes (FMA
#                         contraction class — measured rel diff 1.7e-16
#                         exactly; bit-identical at the normal scale)
# Skipped entirely (fails LOUDLY outside its declared numeric domain):
#   window_vol_of_vol     second moment OF a second moment needs ~50
#                         exact digits at 1e6-scaled cents — beyond
#                         DECIMAL(38)/HUGEINT; ANSI overflow by design
I2MR_SF_DIR="$OUT_ROOT/sf001big" \
I2MR_TOL_KEYS="agg_stats=1e-13:1e-9,udaf_weighted_avg=1e-12:1e-9,fn_trig=1e-10:1e-9,window_bollinger=1e-12:1e-9,window_linreg_channel=1e-13:1e-9,window_kama=1e-13:1e-9" \
I2MR_SKIP_KEYS="window_vol_of_vol" \
exec python tools/check_oracle.py
