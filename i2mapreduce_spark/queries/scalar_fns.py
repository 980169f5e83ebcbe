"""Group X — scalar function surface (SURVEY §2B).

Reference analog: arbitrary Java inside map() (ref op A1).  Here: built-in
pyspark.sql.functions only — JVM-side, codegen'd, no Python in the row
path.  Oracles stay inside the dialect-portable subset (SURVEY Appendix
B.7: ln not log, no week/dow, POSIX regex, 1-based positions).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..functions import l2_norm_expr


def q_fn_string(spark, sf_dir):
    """upper/substr/concat/length/replace/regexp_extract over documents."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.substring("text", 1, 10).alias("text_pfx"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_src"),
        F.length("text").alias("text_len"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S")).alias("source_s"),
        F.regexp_extract("source", "(src)([0-9]+)", 2).cast("int").alias("src_num"),
    )


def q_fn_datetime(spark, sf_dir):
    """year/month/day/date_trunc/day-diff on orders (no week/dow: dialects)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("mon_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .alias("days_since"),
    )


def q_fn_math(spark, sf_dir):
    """round/abs/sqrt/ln/power/% over lineitem prices (ln, not log — the
    Spark log==ln vs DuckDB log==log10 trap, SURVEY B.7)."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.round(F.abs(F.col("l_extendedprice") - 30000), 2).alias("abs_dev"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 4).alias("disc_pow"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


def q_fn_array(spark, sf_dir):
    """Array kernel over embeddings: size, first element, L2 norm via
    higher-order aggregate (elements cast float->double before arithmetic)."""
    load_tables(spark, sf_dir)
    e = spark.table("embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # + 0.0 folds IEEE -0.0 to +0.0 — a first element like -3e-5
        # rounds to the negative-zero double in one engine and positive
        # zero in the other; the add makes both print "0.0".
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + F.lit(0.0)).alias(
            "first_el"
        ),
        l2_norm_expr("embedding").alias("l2_norm"),
    )


def q_fn_json(spark, sf_dir):
    """JSON extraction stats per event_type (props = {"k": <int>})."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_fn_struct_map(spark, sf_dir):
    """Build a struct, then re-project its fields flat (cross-engine struct
    hashing is not comparable, so the checked output is flat)."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    s = d.select(F.struct("doc_id", "lang", "n_chars").alias("s"))
    return s.select(
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.lang").alias("lang"),
        (F.col("s.n_chars") % 100).alias("chars_mod"),
    )


def q_fn_bitwise_conditional(spark, sf_dir):
    """Bitwise &,|,xor,shifts + nullif/greatest/least on integer keys.

    Dialect trap: `^` is xor in Spark but POWER in DuckDB — the oracle
    uses xor().  All integer-domain, so no rounding needed."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(15)).alias("k_or"),
        k.bitwiseXOR(F.lit(170)).alias("k_xor"),
        F.shiftleft(k, 2).alias("k_shl"),
        F.shiftright(k, 3).alias("k_shr"),
        F.nullif((k % 10), F.lit(0)).alias("mod_nz"),
        F.greatest(k % 7, k % 5, k % 3).alias("g_mod"),
        F.least(k % 7, k % 5, k % 3).alias("l_mod"),
    )


def q_fn_interval_arith(spark, sf_dir):
    """Calendar interval arithmetic on timestamps: +30 days, -1 month,
    +90 minutes.  Month math is calendar-aware (Jan 31 - 1 month clamps)
    and both engines clamp identically; all values NTZ-UTC (SURVEY A.3)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 30 DAYS")).cast("timestamp_ntz").alias("due_ts"),
        (d - F.expr("INTERVAL 1 MONTH")).cast("timestamp_ntz").alias("prev_mon_ts"),
        (d + F.expr("INTERVAL 90 MINUTES")).cast("timestamp_ntz").alias("review_ts"),
    )


def q_fn_hash_digest(spark, sf_dir):
    """Cryptographic digests (md5 / sha256) over document text — the
    fingerprint primitives exact dedup builds on.  Hex output is
    byte-identical across engines."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
    )


#: fixed 128-bit demo key for the AES surface (fixture-only, obviously)
AES_KEY = "0123456789abcdef"


def q_fn_aes_roundtrip(spark, sf_dir):
    """Column-level AES encryption — the PII-protection primitive a
    governed lakehouse applies to name/email columns at rest: encrypt
    customer names under a 128-bit key with AES-GCM (the authenticated
    production mode — never use ECB for real PII), decrypt back, and
    report the ciphertext length.  GCM's IV is normally random; here we
    pass an explicit fixed 12-byte IV so the ciphertext — and therefore
    this test — is deterministic (production derives a fresh IV per
    value).  Spark's GCM output is IV(12) || ciphertext(len) || tag(16),
    so cipher_len = len + 28 exactly — DuckDB computes the expected
    values without any AES support: the roundtrip equals the plaintext,
    the length is arithmetic.

    100 TB: both functions are JVM codegen expressions — encryption adds
    zero shuffle; a key-rotation rewrite is one map-only pass."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    iv = "unhex('000102030405060708090a0b')"  # fixed 12-byte GCM IV (test-only)
    cipher = F.expr(
        f"aes_encrypt(cast(c_name AS BINARY), '{AES_KEY}', 'GCM', 'DEFAULT', {iv})"
    )
    plain = F.expr(
        f"cast(aes_decrypt(aes_encrypt(cast(c_name AS BINARY), '{AES_KEY}', "
        f"'GCM', 'DEFAULT', {iv}), '{AES_KEY}', 'GCM') AS STRING)"
    )
    return c.select(
        "c_custkey",
        plain.alias("name_roundtrip"),
        F.length(cipher).alias("cipher_len"),
    )


def q_fn_string_pad(spark, sf_dir):
    """Pad/trim/reverse/repeat/translate string surface (no initcap —
    absent from DuckDB 1.0)."""
    load_tables(spark, sf_dir)
    n = spark.table("nation")
    return n.select(
        "n_nationkey",
        F.lpad("n_name", 12, "*").alias("name_lpad"),
        F.rpad("n_name", 12, ".").alias("name_rpad"),
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))).alias("name_trim"),
        F.reverse("n_name").alias("name_rev"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("name_rep"),
        F.translate("n_name", "AEI", "432").alias("name_l33t"),
    )


def q_fn_trig(spark, sf_dir):
    """Trigonometric / angular function surface over normalized prices
    (sin, cos, atan2, degrees, radians; rounded 4dp)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    x = F.col("o_totalprice") / F.lit(100000.0)
    # `+ 0.0` normalizes the sign of rounded zero (IEEE: -0.0 + 0.0 = +0.0);
    # DuckDB's round() preserves -0.0 where Spark yields 0.0, and the
    # driver's value-hash distinguishes them (r2 fn_trig fail).
    z = F.lit(0.0)
    return o.select(
        "o_orderkey",
        (F.round(F.sin(x), 4) + z).alias("sin_x"),
        (F.round(F.cos(x), 4) + z).alias("cos_x"),
        (F.round(F.atan2(x, F.lit(2.0)), 4) + z).alias("atan2_x2"),
        (F.round(F.degrees(x), 4) + z).alias("deg_x"),
        (F.round(F.radians(x), 4) + z).alias("rad_x"),
    )


def q_fn_array_hof(spark, sf_dir):
    """Higher-order array functions over embeddings: lambda filter count,
    transform+aggregate (sum of squares of positives), element max.  All
    JVM-side lambda evaluation — the columnar way to compute per-vector
    stats without any Python."""
    load_tables(spark, sf_dir)
    e = spark.table("embeddings")
    v = F.col("embedding")
    pos = F.filter(v, lambda x: x > 0)
    return e.select(
        "vec_id",
        F.size(pos).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(pos, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("pos_sumsq"),
        F.round(F.array_max(v).cast("double"), 4).alias("el_max"),
    )


def q_fn_datetime_epoch(spark, sf_dir):
    """Epoch extraction + reconstruction: ts -> integer epoch seconds ->
    back to timestamp (floor to second).  Integer domain end-to-end; the
    ntz<->ltz casts are value-preserving under the pinned UTC session."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_id",
        epoch.alias("epoch_s"),
        F.timestamp_seconds(epoch).cast("timestamp_ntz").alias("ts_floor"),
        (epoch % 86400).alias("sec_of_day"),
    )


def q_fn_levenshtein(spark, sf_dir):
    """Edit distance (fuzzy-match primitive for record linkage / dedup):
    levenshtein between part name/type and against a fixed probe."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", "p_type").alias("dist_name_type"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#33")).alias("dist_brand"),
    )


def q_fn_printf_format(spark, sf_dir):
    """printf-style formatting (Spark format_string / DuckDB printf) —
    integer+string directives only: float directives differ in rounding
    mode between Java and C formatting, so they stay off the hash surface."""
    load_tables(spark, sf_dir)
    p = spark.table("part")
    return p.select(
        "p_partkey",
        F.format_string("%s-%05d", F.col("p_brand"), F.col("p_partkey")).alias("sku"),
        F.format_string("%08x", F.col("p_partkey")).alias("key_hex"),
    )


def q_fn_sequence_gapfill(spark, sf_dir):
    """Calendar densification (time-series gap-fill): generate the days
    Jan 1-30 2024 via sequence(), left-join daily event aggregates,
    zero-fill.
    Scale note: the generated dimension is tiny and broadcast; the fact
    aggregation is the only shuffle."""
    load_tables(spark, sf_dir)
    days = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30', "
        "interval 1 day)) AS day"
    )
    daily = (
        spark.table("events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    return days.join(daily, "day", "left").select(
        # DATE never crosses the hash surface: pandas renders DuckDB dates
        # as midnight timestamps, Spark dates as date objects (App. B.9-ish
        # flattening trap) — emit ntz timestamps on both sides instead
        F.col("day").cast("timestamp_ntz").alias("day_ts"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )


#: fixed probe vocabulary for array set-op intersection
_PROBE_WORDS = ("scan", "join", "merge")


def q_fn_array_setops(spark, sf_dir):
    """Array set algebra over tokenized documents: distinct/sort/join to a
    canonical vocab string, distinct-token count, intersection size with a
    fixed probe vocabulary.  All JVM-side higher-order functions."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.array_remove(F.split("text", " "), "")
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias("vocab"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in _PROBE_WORDS]))
        ).alias("n_probe"),
    )


def q_fn_regexp_capture(spark, sf_dir):
    """Regex capture-group extraction + global replace + count over the
    raw props payload — the JVM-side text surgery a scrubbing/parsing
    pipeline leans on.  Both engines return \'\' for a non-matching
    capture (verified), so the key is tie-free."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"v":([0-9]+)', 1).alias("v_digits"),
        F.regexp_extract("props", r"([a-z]+)_([a-z]+)", 2).alias("snake_tail"),
        F.regexp_count("props", F.lit("[0-9]")).alias("n_digits"),
    )


def q_fn_base64_hex(spark, sf_dir):
    """Binary-encoding surface: base64 / hex encode and the decode
    roundtrips (the primitives under content-addressed storage keys and
    wire-format debugging).  All JVM expressions."""
    load_tables(spark, sf_dir)
    n = spark.table("nation")
    return n.select(
        "n_nationkey",
        F.base64(F.col("n_name").cast("binary")).alias("b64"),
        F.hex(F.col("n_name").cast("binary")).alias("hx"),
        F.decode(F.unbase64(F.base64(F.col("n_name").cast("binary"))), "UTF-8").alias(
            "b64_roundtrip"
        ),
        F.decode(F.unhex(F.hex(F.col("n_name").cast("binary"))), "UTF-8").alias(
            "hex_roundtrip"
        ),
    )


def q_fn_url_parse(spark, sf_dir):
    """URL component extraction with Spark's native parse_url (JVM-side
    java.net.URI semantics): host, path, one query parameter, and the
    fragment.  URLs are synthesized deterministically per document so
    every component varies.  The oracle reproduces the components with
    plain regexes — safe because the synthesized URLs are well-formed."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    url = F.concat(
        F.lit("https://w"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"), F.col("source"),
        F.lit("/p"), (F.col("doc_id") % 13).cast("string"),
        F.lit("?q=t"), (F.col("doc_id") % 13).cast("string"),
        F.lit("&lang="), F.col("lang"),
        F.lit("#s"), (F.col("doc_id") % 5).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )


def q_fn_ip_addr(spark, sf_dir):
    """IPv4 integer↔dotted-quad conversions — the log-analytics staple
    Spark has no builtin for, composed from shifts/masks and string
    splits (both directions, roundtrip-verified in the result itself).
    IPs are synthesized per order via a Knuth multiplicative hash so all
    octets vary."""
    load_tables(spark, sf_dir)
    o = spark.table("orders").select("o_orderkey")
    ip = (F.col("o_orderkey") * 2654435761) % F.lit(4294967296).cast("long")
    d = o.select("o_orderkey", ip.cast("long").alias("ip_int"))
    octet = lambda n: F.shiftright("ip_int", n).bitwiseAND(F.lit(255)).cast("string")  # noqa: E731
    dotted = F.concat_ws(".", octet(24), octet(16), octet(8), octet(0))
    d = d.withColumn("dotted", dotted)
    parts = F.split("dotted", "\\.")
    back = (
        F.element_at(parts, 1).cast("long") * 16777216
        + F.element_at(parts, 2).cast("long") * 65536
        + F.element_at(parts, 3).cast("long") * 256
        + F.element_at(parts, 4).cast("long")
    )
    return d.select(
        "o_orderkey", "ip_int", "dotted",
        back.alias("roundtrip_int"),
        (back == F.col("ip_int")).alias("roundtrip_ok"),
    )


def q_fn_try_arith(spark, sf_dir):
    """Error-tolerant arithmetic surface — Spark's try_* family, the
    ANSI-mode-safe way a pipeline survives dirty data: try_divide turns
    division-by-zero into NULL instead of an exception, try_cast turns
    an unparseable string into NULL.  DuckDB expresses the same
    semantics with CASE / TRY_CAST, so every column hash-checks.

    100 TB: all four expressions are JVM codegen; the point of the
    surface is that a single bad row can no longer kill a stage."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    # safe_unit: same try_divide NULL-on-zero semantics, but the 4-dp
    # decimal is produced by an exact integer half-up quotient over
    # cents (r10 extreme-magnitude sweep: round(double/k, 4) at 1e11
    # magnitudes flaps between the engines' round implementations; the
    # price/k value is rational, so it rounds exactly in integer space)
    return o.select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_custkey % 7 = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "((2 * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) "
            "  * 100 + (o_custkey % 7)) div (2 * (o_custkey % 7))) / 10000.0 "
            "END"
        ).alias("safe_unit"),
        F.expr("try_divide(o_totalprice, 0.0)").alias("div0"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("prio_full_int"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias(
            "prio_digit"
        ),
    )


def q_fn_variant_json(spark, sf_dir):
    """Semi-structured VARIANT surface (Spark 4): parse JSON into the
    binary VARIANT type and pull typed values back out with
    variant_get — the open-table-format path for schema-on-read columns.
    A nested payload is built from order columns (to_json -> parse_json
    round-trip must be lossless) plus a typed extract from the real
    events-style props string.  Output is flat scalars; DuckDB verifies
    with plain json_extract / the source columns."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    payload = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_totalprice").alias("amt"),
                F.col("o_orderstatus").alias("st"),
            ).alias("pay"),
        )
    )
    tagged = o.withColumn("v", F.parse_json(payload))
    return tagged.select(
        "o_orderkey",
        F.round(F.variant_get("v", "$.pay.amt", "double"), 2).alias("amt"),
        F.variant_get("v", "$.pay.st", "string").alias("status"),
        F.variant_get("v", "$.id", "bigint").alias("id_roundtrip"),
    )


# =================================================================
# Group X — scalar data-layout / identity primitives
# =================================================================
ZORDER_BITS = 8


def q_fn_zorder_interleave(spark, sf_dir):
    """Morton (Z-order) curve interleaving of (partkey%256, suppkey%256)
    — the multi-dimensional clustering key data-layout engines sort by
    so range predicates on EITHER dimension prune row groups.  Pure bit
    arithmetic (shift/and/or), identical in both engines; emitted for a
    bounded order range with the z-ordered rank."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_orderkey") < 400)
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(
            f"shiftleft(shiftright(l_partkey % 256, {i}) & 1, {2 * i})"
        )
        terms.append(
            f"shiftleft(shiftright(l_suppkey % 256, {i}) & 1, {2 * i + 1})"
        )
    z = F.expr(" + ".join(terms))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        z.alias("zcode"),
    )


def q_fn_uuid_deterministic(spark, sf_dir):
    """Deterministic name-based UUIDs (md5 name-hash with version-3 and
    RFC-variant nibbles patched in, the UUIDv3 layout) for part names —
    the reproducible surrogate-key primitive: unlike uuid(), identical
    on every engine, every retry and every partitioning."""
    load_tables(spark, sf_dir)
    p = spark.table("part").filter(F.col("p_partkey") <= 100)
    h = F.md5(F.col("p_name"))
    uuid = F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-3"),
        F.substring(h, 14, 3), F.lit("-8"),
        F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12),
    )
    return p.select("p_partkey", "p_name", uuid.alias("uuid3"))


def _zorder_sql() -> str:
    # each term fully parenthesized: DuckDB's << binds LOOSER than +, so
    # an unwrapped `a + b << k` parses as `(a + b) << k` and overflows
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((((l_partkey % 256) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((l_suppkey % 256) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def q_fn_luhn_check(spark, sf_dir):
    """Luhn checksum validation of 12-digit account strings derived
    from order keys — the checksum-column DQ primitive (card/IMEI/SIREN
    formats).  The digit fold is a JVM-side `aggregate` over a
    `sequence` (doubling every second digit from the right, −9 above
    9); no UDF, no python.  Output: per-order account, Luhn sum and
    validity verdict."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    acct = F.lpad(F.col("o_orderkey").cast("string"), 12, "0")
    withacct = o.select("o_orderkey", acct.alias("acct"))
    luhn = F.expr(
        "aggregate(sequence(0, 11), 0, (acc, i) -> acc + "
        "CASE WHEN i % 2 = 1 THEN "
        "IF(2 * CAST(substring(acct, 12 - i, 1) AS INT) > 9, "
        "2 * CAST(substring(acct, 12 - i, 1) AS INT) - 9, "
        "2 * CAST(substring(acct, 12 - i, 1) AS INT)) "
        "ELSE CAST(substring(acct, 12 - i, 1) AS INT) END)"
    )
    return withacct.select(
        "o_orderkey",
        "acct",
        luhn.cast("long").alias("luhn_sum"),
        (luhn % 10 == 0).alias("luhn_valid"),
    )


#: geohash precision: bits per axis (15+15 = 30 bits = 6 base32 chars)
GH_BITS = 15
GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_interleave(latb: str, lonb: str, dialect: str) -> str:
    """30-bit Morton interleave, geohash bit order (MSB-first pair =
    longitude then latitude).  Same unrolled integer expression rendered
    per dialect (fn_zorder_interleave convention; DuckDB terms fully
    parenthesized — its << binds looser than +)."""
    terms = []
    for i in range(GH_BITS):
        j = GH_BITS - 1 - i  # source bit, MSB first
        for src, pos in ((lonb, 2 * GH_BITS - 1 - 2 * i),
                         (latb, 2 * GH_BITS - 2 - 2 * i)):
            if dialect == "spark":
                terms.append(
                    f"shiftleft(shiftright({src}, {j}) & 1, {pos})"
                )
            else:
                terms.append(f"((({src} >> {j}) & 1) << {pos})")
    return " + ".join(terms)


def _gh_chars(g: str, dialect: str) -> str:
    """Base32 chars from the 30-bit code, 5 bits per char, MSB first."""
    parts = []
    for k in range(2 * GH_BITS // 5):
        s = 2 * GH_BITS - 5 * (k + 1)
        if dialect == "spark":
            idx = f"CAST(shiftright({g}, {s}) & 31 AS INT) + 1"
        else:
            idx = f"CAST(({g} >> {s}) & 31 AS INT) + 1"
        parts.append(f"substr('{GH32}', {idx}, 1)")
    return " || ".join(parts)


def q_fn_geohash(spark, sf_dir):
    """Geohash-6 encoding of the deterministic customer coordinates
    (join_geo_radius's md5 0.1-degree grid): quantize lat/lon to 15-bit
    buckets with pure integer math (coords are integer TENTHS of a
    degree, so the bucket is ((tenths + 900) * 32768) div 1800 — no
    float anywhere), Morton-interleave lon/lat MSB-first, emit 6 base32
    chars.  The geo sharding/clustering key: prefix-equality ==
    proximity, so sorting by it co-locates nearby points for the
    spatial joins.  All bit arithmetic, identical in both engines."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    key = F.md5(F.col("c_custkey").cast("string"))
    h1 = F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
    h2 = F.conv(F.substring(key, 5, 4), 16, 10).cast("long")
    pts = c.select(
        "c_custkey",
        (h1 % 120 - 60).alias("lat_t"),
        (h2 % 360 - 180).alias("lon_t"),
    )
    b = pts.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        F.expr("((lat_t + 900) * 32768) div 1800").alias("latb"),
        F.expr("((lon_t + 1800) * 32768) div 3600").alias("lonb"),
    )
    g = b.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        F.expr(_gh_interleave("latb", "lonb", "spark")).alias("zcode"),
    )
    return g.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        "zcode",
        F.expr(_gh_chars("zcode", "spark")).alias("geohash6"),
    )


#: business-day anchor: a Monday preceding every fixture date
BD_ANCHOR = "1991-12-30"


def q_fn_business_days(spark, sf_dir):
    """Business days between order placement and line shipment — the
    lead-time metric behind every SLA dashboard.  Closed form, NO
    calendar join or explode: with x = days since an anchor Monday,
    f(x) = 5*(x div 7) + least(x mod 7, 5) counts weekdays before x, so
    bd = f(ship) - f(order) counts weekdays in [order, ship) in two
    integer ops per row.  The anchor (1991-12-30) precedes every
    fixture date, keeping both div and mod on non-negative operands
    where Spark and DuckDB agree.  One co-keyed equi-join, then a pure
    per-row map."""
    load_tables(spark, sf_dir)
    li = spark.table("lineitem").join(
        spark.table("orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    xo = f"datediff(o_orderdate, DATE '{BD_ANCHOR}')"
    xs = f"datediff(l_shipdate, DATE '{BD_ANCHOR}')"

    def f(x):
        return 5 * F.expr(f"({x}) div 7") + F.least(
            F.expr(f"({x}) % 7"), F.lit(5)
        )

    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(xo).alias("order_x"),
        F.expr(xs).alias("ship_x"),
        (F.expr(xo) % 7).alias("order_dow"),
        (f(xs) - f(xo)).alias("biz_days"),
    )


def _kw_f(x: str) -> str:
    return f"(5 * (({x}) // 7) + least(({x}) % 7, 5))"


#: fiscal 4-4-5 calendar anchor: Monday starting FY1992 week 1
FISCAL_ANCHOR = "1991-12-30"


def q_fn_fiscal_445(spark, sf_dir):
    """4-4-5 fiscal retail calendar mapping for every order date — the
    BI primitive plain date functions cannot express: 52-week fiscal
    years of 4-4-5-week periods (每 quarter = 13 weeks split 4+4+5), so
    every period contains whole weeks and same-period comparisons align
    by weekday.  Pure integer arithmetic from the anchor Monday: week =
    days div 7, fy = week div 52, quarter = (week mod 52) div 13,
    period-in-quarter by the 4/8 split.  All operands non-negative."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    x = f"datediff(o_orderdate, DATE '{FISCAL_ANCHOR}')"
    wk = f"(({x}) div 7)"
    wiy = f"({wk} % 52)"
    wiq = f"({wiy} % 13)"
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.expr(f"1992 + {wk} div 52").alias("fiscal_year"),
        F.expr(f"1 + {wiy} div 13").alias("fiscal_quarter"),
        F.expr(
            f"CASE WHEN {wiq} < 4 THEN 1 WHEN {wiq} < 8 THEN 2 ELSE 3 END"
        ).alias("period_in_quarter"),
        F.expr(f"1 + {wiy}").alias("fiscal_week"),
    )


#: snowflake layout: 41-bit ms timestamp | 10-bit worker | 12-bit seq
SNOW_EPOCH_MS = 1_288_834_974_657  # the classic custom epoch


def q_fn_snowflake_id(spark, sf_dir):
    """Snowflake-style distributed ID encode + decode: pack
    (41-bit ms timestamp | 10-bit worker | 12-bit sequence) into one
    BIGINT and unpack it back — the k-sortable id layout id generators
    use so ORDER BY id == ORDER BY creation time across workers.  IDs
    are synthesized deterministically from the order key, then decoded
    with pure shift/mask arithmetic identical in both engines; the
    decoded timestamp re-emerges via epoch-millis addition."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    ms = "(o_orderkey * 1000 + o_orderkey % 997)"
    worker = "(o_orderkey % 32)"
    seq = "(o_orderkey % 4096)"
    sid = (
        f"shiftleft({ms}, 22) + shiftleft({worker}, 12) + {seq}"
    )
    enc = o.select(
        "o_orderkey", F.expr(sid).cast("long").alias("snowflake_id")
    )
    return enc.select(
        "o_orderkey",
        "snowflake_id",
        F.expr("shiftright(snowflake_id, 22)").alias("dec_ms"),
        F.expr("shiftright(snowflake_id, 12) & 1023").alias("dec_worker"),
        F.expr("snowflake_id & 4095").alias("dec_seq"),
        F.expr(
            f"timestamp_millis({SNOW_EPOCH_MS} + shiftright(snowflake_id, 22))"
        )
        .cast("timestamp_ntz")
        .alias("dec_ts"),
    )


#: base62 alphabet and max digits (62^11 > 2^63)
B62 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
B62_DIGITS = 11


def _b62_encode(key: str, dialect: str) -> str:
    div = "div" if dialect == "spark" else "//"
    parts = []
    for i in range(B62_DIGITS - 1, -1, -1):
        parts.append(
            f"substr('{B62}', CAST((({key}) {div} {62 ** i}) % 62 AS INT) + 1, 1)"
        )
    joined = " || ".join(parts) if dialect == "duckdb" else None
    if dialect == "spark":
        joined = "concat(" + ", ".join(parts) + ")"
    return f"TRIM(LEADING '0' FROM {joined})"


def _b62_decode(code: str) -> str:
    """Shared-dialect decode: sum over reversed positions; instr/substr/
    reverse/length spell identically in Spark SQL and DuckDB."""
    terms = []
    for i in range(B62_DIGITS):
        terms.append(
            f"(CASE WHEN {i} < length({code}) THEN "
            f"(instr('{B62}', substr(reverse({code}), {i + 1}, 1)) - 1) "
            f"* {62 ** i} ELSE 0 END)"
        )
    return " + ".join(terms)


def q_fn_base62_codec(spark, sf_dir):
    """Base62 short-code ENCODE + DECODE for order keys — the
    URL-shortener primitive: compact, case-sensitive, k-sortable for
    fixed width.  Encode is an unrolled division chain into alphabet
    lookups with leading-zero-digit trim; decode reverses the string
    and folds positional values back with instr — pure string/integer
    builtins, identical semantics in both engines, and the roundtrip
    (decoded == o_orderkey) is asserted as an output column."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    enc = o.select(
        "o_orderkey",
        F.expr(_b62_encode("o_orderkey", "spark")).alias("b62"),
    )
    return enc.select(
        "o_orderkey",
        "b62",
        F.expr(_b62_decode("b62")).cast("long").alias("decoded"),
        (F.expr(_b62_decode("b62")) == F.col("o_orderkey")).alias(
            "roundtrip_ok"
        ),
    )


#: fixed-date holidays (month, day, name) with observed shifting
HOLIDAYS = ((1, 1, "new_year"), (7, 4, "independence"), (12, 25, "christmas"))


def q_fn_holiday_observed(spark, sf_dir):
    """OBSERVED-holiday calendar: fixed-date holidays shift to Friday
    when they fall on Saturday and to Monday when on Sunday (the US
    federal observance rule) — the calendar-join primitive behind
    settlement dates, SLA clocks and staffing models; plain date
    functions cannot express the shift.  Weekday from pure day-number
    arithmetic (anchor Monday, (x % 7): 5 = Sat, 6 = Sun); orders gain
    (is_holiday_observed, holiday_name).  One small equi-join on the
    synthesized holiday spine (bounded: years x holidays)."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    years = range(1992, 1999)
    rows = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', '{name}')"
        for y in years
        for (m, d, name) in HOLIDAYS
    )
    spine = spark.sql(
        f"SELECT raw, name, "
        "CASE datediff(raw, DATE '1991-12-30') % 7 "
        "WHEN 5 THEN date_sub(raw, 1) "
        "WHEN 6 THEN date_add(raw, 1) "
        "ELSE raw END AS observed "
        f"FROM VALUES {rows} AS t(raw, name)"
    )
    return (
        o.join(
            F.broadcast(spine), F.col("o_orderdate") == F.col("observed")
        )
        .groupBy(
            # string, not DATE: Spark DATE -> datetime.date but DuckDB
            # DATE -> pandas Timestamp, and the value-hash renders them
            # differently ('1996-01-01' vs '1996-01-01T00:00:00')
            F.date_format("observed", "yyyy-MM-dd").alias("holiday_date"),
            "name",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents"),
        )
        .select(
            "holiday_date",
            "name",
            "n_orders",
            (F.col("rev_cents") / 100.0).alias("holiday_revenue"),
        )
    )


_HOLIDAY_ROWS = ", ".join(
    f"(DATE '{y}-{m:02d}-{d:02d}', '{name}')"
    for y in range(1992, 1999)
    for (m, d, name) in HOLIDAYS
)


#: Feistel: rounds and 16-bit half modulus
FEISTEL_ROUNDS = 4
FEISTEL_M = 65536


def _feistel(key: str, dialect: str, inverse: bool = False) -> str:
    """Unrolled Feistel network with modular ADDITION (invertible like
    XOR but dialect-portable: DuckDB's ^ is power, Spark lacks xor()).
    Round function = 16 bits of md5(half || '|' || round).  Returns an
    expression for the permuted (or recovered) 32-bit id."""
    if dialect == "spark":
        def h2i(s):
            return f"CAST(conv(substring(md5({s}), 1, 4), 16, 10) AS BIGINT)"

        str_t = "STRING"
        div = "div"
    else:
        def h2i(s):
            return f"(('0x' || substr(md5({s}), 1, 4))::BIGINT)"

        str_t = "VARCHAR"
        div = "//"
    L = f"(({key}) {div} {FEISTEL_M})"
    R = f"(({key}) % {FEISTEL_M})"
    rounds = range(FEISTEL_ROUNDS)
    if not inverse:
        for r in rounds:
            arg = f"CAST({R} AS {str_t}) || '|{r}'"
            fr = f"({h2i(arg)} % {FEISTEL_M})"
            L, R = R, f"(({L} + {fr}) % {FEISTEL_M})"
    else:
        for r in reversed(rounds):
            arg = f"CAST({L} AS {str_t}) || '|{r}'"
            fr = f"({h2i(arg)} % {FEISTEL_M})"
            L, R = (
                f"((({R} - {fr}) % {FEISTEL_M} + {FEISTEL_M}) % {FEISTEL_M})",
                L,
            )
    return f"({L} * {FEISTEL_M} + {R})"


def q_fn_feistel_permute(spark, sf_dir):
    """Format-preserving PSEUDORANDOM PERMUTATION of order keys — a
    4-round Feistel network over 16-bit halves with md5 round functions
    and modular addition: deterministic, collision-free by construction,
    and INVERTIBLE — the decode chain runs the rounds backwards and the
    roundtrip equality ships as an output column.  The id-obfuscation
    primitive for sharing keyed data without leaking sequence order.
    Spark VARCHAR cast quirk avoided by casting halves to string before
    hashing; everything else is md5 + integer ops identical in both
    engines."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    enc = o.select(
        "o_orderkey",
        F.expr(_feistel("o_orderkey", "spark")).alias("permuted_id"),
    )
    return enc.select(
        "o_orderkey",
        "permuted_id",
        F.expr(_feistel("permuted_id", "spark", inverse=True)).alias(
            "recovered"
        ),
        (
            F.expr(_feistel("permuted_id", "spark", inverse=True))
            == F.col("o_orderkey")
        ).alias("roundtrip_ok"),
    )


def q_fn_delta_encode(spark, sf_dir):
    """DELTA-ENCODING analytics per order-priority stream: sort each
    group's order keys, take consecutive deltas, and report the
    bit-width the deltas need vs the raw 64-bit ids — the estimator a
    columnar encoder (parquet DELTA_BINARY_PACKED) uses to pick its
    layout.  ceil(log2(x)) comes from the portable bit-length identity
    length(base-2 string) rather than any log float; everything is
    exact integers over one co-partitioned window."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    d = o.select(
        "o_orderpriority",
        (F.col("o_orderkey") - F.lag("o_orderkey").over(w)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    # bits(x) = length of x in binary = position of highest set bit
    bits = F.length(F.conv(F.col("delta").cast("string"), 10, 2))
    g = d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_deltas"),
        F.max("delta").alias("max_delta"),
        F.max(bits).alias("bits_needed"),
        F.sum(bits).alias("sum_bits"),
    )
    return g.select(
        "o_orderpriority",
        "n_deltas",
        "max_delta",
        F.col("bits_needed").cast("int").alias("bits_needed"),
        # packed size at the group's fixed width vs 64-bit raw, per mille
        F.expr(
            "(2 * 1000 * bits_needed * n_deltas + 64 * n_deltas) "
            "div (2 * 64 * n_deltas)"
        ).alias("packed_pm"),
    )


def q_fn_iso_duration(spark, sf_dir):
    """ISO-8601 DURATION parsing: P#DT#H#M#S strings (the interchange
    format of every scheduling API) synthesized from order keys, parsed
    back to total seconds with one regexp_extract per component and
    pure integer arithmetic — and re-serialized, with the roundtrip
    asserted per row.  Regex and arithmetic identical in both
    engines."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    d = "(o_orderkey % 28)"
    h = "(o_orderkey % 24)"
    m = "(o_orderkey % 60)"
    s = "(o_orderkey % 45)"
    iso = (
        f"concat('P', {d}, 'DT', {h}, 'H', {m}, 'M', {s}, 'S')"
    )
    enc = o.select("o_orderkey", F.expr(iso).alias("iso"))
    rex = r"P(\d+)DT(\d+)H(\d+)M(\d+)S"
    total = (
        F.regexp_extract("iso", rex, 1).cast("long") * 86400
        + F.regexp_extract("iso", rex, 2).cast("long") * 3600
        + F.regexp_extract("iso", rex, 3).cast("long") * 60
        + F.regexp_extract("iso", rex, 4).cast("long")
    )
    expect = F.expr(
        f"{d} * 86400 + {h} * 3600 + {m} * 60 + {s}"
    ).cast("long")
    return enc.select(
        "o_orderkey",
        "iso",
        total.alias("total_seconds"),
        (total == expect).alias("roundtrip_ok"),
    )


def q_fn_iban_mod97(spark, sf_dir):
    """Big-number MOD-97 validation (the IBAN / ISO 7064 check): an
    18-digit account string (synthesized from the order key) reduced
    mod 97 by FOLDING 6-digit chunks — (acc*10^6 + chunk) mod 97 —
    because the whole number exceeds every integer type; then the check
    digits that make the full number ≡ 1 (mod 97), re-validated in the
    same pass.  Three unrolled chunk steps, pure integer arithmetic,
    identical in both engines."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    acct = "lpad(CAST(o_orderkey AS STRING), 18, '0')"
    acct_d = "lpad(CAST(o_orderkey AS VARCHAR), 18, '0')"
    # fold three 6-digit chunks: ((c1 % 97 * 10^6 + c2) % 97 ...) % 97
    def fold(a, div):
        m = f"CAST(substring({a}, 1, 6) AS BIGINT)"
        for k in (7, 13):
            m = f"(({m} % 97) * 1000000 + CAST(substring({a}, {k}, 6) AS BIGINT))"
        return f"({m} % 97)"

    rem_s = fold(acct, "div")
    # check digits: full number = acct * 100 + cd must be ≡ 1 mod 97
    # => cd = (1 - (rem * 100) % 97 + 97*2) % 97, kept in [2..98] per spec
    cd_s = f"((1 - ({rem_s} * 100) % 97) % 97 + 97) % 97"
    enc = o.select(
        "o_orderkey",
        F.expr(acct).alias("acct"),
        F.expr(rem_s).cast("long").alias("base_mod97"),
        F.expr(cd_s).cast("long").alias("check_digits"),
    )
    # validate: (rem*100 + cd) % 97 == 1
    return enc.select(
        "o_orderkey",
        "acct",
        "base_mod97",
        "check_digits",
        (
            F.expr("(base_mod97 * 100 + check_digits) % 97") == 1
        ).alias("valid"),
    )


def _fold_duck() -> str:
    a = "lpad(CAST(o_orderkey AS VARCHAR), 18, '0')"
    m = f"CAST(substring({a}, 1, 6) AS BIGINT)"
    for k in (7, 13):
        m = f"(({m} % 97) * 1000000 + CAST(substring({a}, {k}, 6) AS BIGINT))"
    return f"({m} % 97)"


#: avalanche audit: bits of the md5-derived word examined
AVAL_BITS = 32


def q_fn_hash_avalanche(spark, sf_dir):
    """HASH AVALANCHE audit: for every bit position of a 32-bit
    md5-derived word over all order keys, the share of ones — a healthy
    hash sits at ~500 per-mille on every bit, and a biased bit means
    skewed hash partitions (the diagnostic run before trusting any
    hash-partitioner or sampler in this repo).  One explode over the
    literal bit range and one exact integer agg per bit."""
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    word = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    bits = o.select(
        word.alias("w"),
        F.explode(F.expr(f"sequence(0, {AVAL_BITS - 1})")).alias("bit"),
    )
    g = bits.groupBy("bit").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("shiftright(w, bit) & 1")).alias("ones"),
    )
    return g.select(
        "bit",
        "n",
        "ones",
        F.expr("(2 * 1000 * ones + n) div (2 * n)").alias("ones_pm"),
    )


QUERIES = {
    "fn_variant_json": q_fn_variant_json,
    "fn_try_arith": q_fn_try_arith,
    "fn_ip_addr": q_fn_ip_addr,
    "fn_url_parse": q_fn_url_parse,
    "fn_base64_hex": q_fn_base64_hex,
    "fn_regexp_capture": q_fn_regexp_capture,
    "fn_string": q_fn_string,
    "fn_datetime": q_fn_datetime,
    "fn_math": q_fn_math,
    "fn_array": q_fn_array,
    "fn_json": q_fn_json,
    "fn_struct_map": q_fn_struct_map,
    "fn_bitwise_conditional": q_fn_bitwise_conditional,
    "fn_interval_arith": q_fn_interval_arith,
    "fn_aes_roundtrip": q_fn_aes_roundtrip,
    "fn_hash_digest": q_fn_hash_digest,
    "fn_string_pad": q_fn_string_pad,
    "fn_trig": q_fn_trig,
    "fn_array_hof": q_fn_array_hof,
    "fn_datetime_epoch": q_fn_datetime_epoch,
    "fn_levenshtein": q_fn_levenshtein,
    "fn_printf_format": q_fn_printf_format,
    "fn_sequence_gapfill": q_fn_sequence_gapfill,
    "fn_array_setops": q_fn_array_setops,
    "fn_zorder_interleave": q_fn_zorder_interleave,
    "fn_uuid_deterministic": q_fn_uuid_deterministic,
    "fn_luhn_check": q_fn_luhn_check,
    "fn_geohash": q_fn_geohash,
    "fn_business_days": q_fn_business_days,
    "fn_fiscal_445": q_fn_fiscal_445,
    "fn_snowflake_id": q_fn_snowflake_id,
    "fn_base62_codec": q_fn_base62_codec,
    "fn_holiday_observed": q_fn_holiday_observed,
    "fn_feistel_permute": q_fn_feistel_permute,
    "fn_delta_encode": q_fn_delta_encode,
    "fn_iso_duration": q_fn_iso_duration,
    "fn_iban_mod97": q_fn_iban_mod97,
    "fn_hash_avalanche": q_fn_hash_avalanche,
}

ORACLES = {
    "fn_variant_json": (
        "SELECT o_orderkey, round(o_totalprice, 2) AS amt, "
        "o_orderstatus AS status, o_orderkey AS id_roundtrip "
        "FROM orders"
    ),
    "fn_try_arith": (
        "SELECT o_orderkey, "
        "CASE WHEN o_custkey % 7 = 0 THEN NULL "
        "ELSE ((2 * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        "::HUGEINT * 100 + (o_custkey % 7)) // (2 * (o_custkey % 7))) "
        "/ 10000.0 END AS safe_unit, "
        "CAST(NULL AS DOUBLE) AS div0, "
        "TRY_CAST(o_orderpriority AS INTEGER) AS prio_full_int, "
        "TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit "
        "FROM orders"
    ),
    "fn_ip_addr": (
        "WITH d AS (SELECT o_orderkey, "
        "(o_orderkey * 2654435761) % 4294967296 AS ip_int FROM orders), "
        "q AS (SELECT o_orderkey, ip_int, "
        "((ip_int >> 24) & 255)::VARCHAR || '.' || "
        "((ip_int >> 16) & 255)::VARCHAR || '.' || "
        "((ip_int >> 8) & 255)::VARCHAR || '.' || "
        "(ip_int & 255)::VARCHAR AS dotted FROM d) "
        "SELECT o_orderkey, ip_int, dotted, "
        "string_split(dotted, '.')[1]::BIGINT * 16777216 + "
        "string_split(dotted, '.')[2]::BIGINT * 65536 + "
        "string_split(dotted, '.')[3]::BIGINT * 256 + "
        "string_split(dotted, '.')[4]::BIGINT AS roundtrip_int, "
        "string_split(dotted, '.')[1]::BIGINT * 16777216 + "
        "string_split(dotted, '.')[2]::BIGINT * 65536 + "
        "string_split(dotted, '.')[3]::BIGINT * 256 + "
        "string_split(dotted, '.')[4]::BIGINT = ip_int AS roundtrip_ok FROM q"
    ),
    "fn_url_parse": (
        "WITH u AS (SELECT doc_id, "
        "'https://w' || (doc_id % 7) || '.example.com/' || source || "
        "'/p' || (doc_id % 13) || '?q=t' || (doc_id % 13) || "
        "'&lang=' || lang || '#s' || (doc_id % 5) AS url FROM documents) "
        "SELECT doc_id, url, "
        "regexp_extract(url, '^https://([^/]+)', 1) AS host, "
        "regexp_extract(url, '^https://[^/]+([^?#]*)', 1) AS path, "
        "regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q_param, "
        "regexp_extract(url, '#(.*)$', 1) AS fragment FROM u"
    ),
    "fn_base64_hex": (
        "SELECT n_nationkey, to_base64(n_name::BLOB) AS b64, "
        "hex(n_name) AS hx, "
        "decode(from_base64(to_base64(n_name::BLOB))) AS b64_roundtrip, "
        "decode(unhex(hex(n_name))) AS hex_roundtrip FROM nation"
    ),
    "fn_regexp_capture": (
        "SELECT event_id, "
        "regexp_extract(props, '\"v\":([0-9]+)', 1) AS v_digits, "
        "regexp_extract(props, '([a-z]+)_([a-z]+)', 2) AS snake_tail, "
        "CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS n_digits "
        "FROM events"
    ),
    "fn_levenshtein": (
        "SELECT p_partkey, levenshtein(p_name, p_type) AS dist_name_type, "
        "levenshtein(p_brand, 'Brand#33') AS dist_brand FROM part"
    ),
    "fn_printf_format": (
        "SELECT p_partkey, printf('%s-%05d', p_brand, p_partkey) AS sku, "
        "printf('%08x', p_partkey) AS key_hex FROM part"
    ),
    "fn_sequence_gapfill": (
        "WITH days AS (SELECT CAST(d AS DATE) AS day FROM "
        "(SELECT unnest(generate_series(DATE '2024-01-01', "
        "DATE '2024-01-30', INTERVAL 1 DAY)) AS d) g), "
        "agg AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n, "
        "round(sum(value), 2) AS sv FROM events GROUP BY CAST(ts AS DATE)) "
        "SELECT CAST(d.day AS TIMESTAMP) AS day_ts, coalesce(a.n, 0) AS n_events, "
        "coalesce(a.sv, 0.0) AS sum_value FROM days d "
        "LEFT JOIN agg a ON a.day = d.day"
    ),
    "fn_array_setops": (
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), w -> w <> '') AS toks "
        "FROM documents) "
        "SELECT doc_id, "
        "array_to_string(list_sort(list_distinct(toks)), ' ') AS vocab, "
        "CAST(len(list_distinct(toks)) AS INT) AS n_distinct, "
        "CAST(len(list_distinct(list_filter(toks, "
        "w -> w IN ('scan', 'join', 'merge')))) AS INT) AS n_probe "
        "FROM t"
    ),
    "fn_array_hof": (
        "SELECT vec_id, "
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, "
        "round(coalesce(list_sum(list_transform(list_filter(embedding, x -> x > 0), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0), 4) AS pos_sumsq, "
        "round(CAST(list_max(embedding) AS DOUBLE), 4) AS el_max "
        "FROM embeddings"
    ),
    "fn_datetime_epoch": (
        "SELECT event_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, "
        "make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000) AS ts_floor, "
        "CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS sec_of_day "
        "FROM events"
    ),
    "fn_aes_roundtrip": (
        # GCM: IV(12) + ciphertext(= plaintext length) + auth tag(16)
        "SELECT c_custkey, c_name AS name_roundtrip, "
        "length(c_name) + 28 AS cipher_len FROM customer"
    ),
    "fn_hash_digest": (
        "SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256 "
        "FROM documents"
    ),
    "fn_string_pad": (
        "SELECT n_nationkey, "
        "lpad(n_name, 12, '*') AS name_lpad, "
        "rpad(n_name, 12, '.') AS name_rpad, "
        "trim('  ' || n_name || ' ') AS name_trim, "
        "reverse(n_name) AS name_rev, "
        "repeat(substr(n_name, 1, 2), 3) AS name_rep, "
        "translate(n_name, 'AEI', '432') AS name_l33t "
        "FROM nation"
    ),
    "fn_trig": (
        # + 0.0 canonicalizes -0.0 -> +0.0 (matches the Spark side's guard)
        "SELECT o_orderkey, "
        "round(sin(o_totalprice / 100000.0), 4) + 0.0 AS sin_x, "
        "round(cos(o_totalprice / 100000.0), 4) + 0.0 AS cos_x, "
        "round(atan2(o_totalprice / 100000.0, 2.0), 4) + 0.0 AS atan2_x2, "
        "round(degrees(o_totalprice / 100000.0), 4) + 0.0 AS deg_x, "
        "round(radians(o_totalprice / 100000.0), 4) + 0.0 AS rad_x "
        "FROM orders"
    ),
    "fn_bitwise_conditional": (
        "SELECT o_orderkey, "
        "o_orderkey & 255 AS k_and, "
        "o_orderkey | 15 AS k_or, "
        "xor(o_orderkey, 170) AS k_xor, "
        "o_orderkey << 2 AS k_shl, "
        "o_orderkey >> 3 AS k_shr, "
        "nullif(o_orderkey % 10, 0) AS mod_nz, "
        "greatest(o_orderkey % 7, o_orderkey % 5, o_orderkey % 3) AS g_mod, "
        "least(o_orderkey % 7, o_orderkey % 5, o_orderkey % 3) AS l_mod "
        "FROM orders"
    ),
    "fn_interval_arith": (
        "SELECT o_orderkey, "
        "o_orderdate + INTERVAL 30 DAY AS due_ts, "
        "o_orderdate - INTERVAL 1 MONTH AS prev_mon_ts, "
        "o_orderdate + INTERVAL 90 MINUTE AS review_ts "
        "FROM orders"
    ),
    "fn_string": (
        "SELECT doc_id, upper(lang) AS lang_up, substr(text, 1, 10) AS text_pfx, "
        # || not concat(): Spark's concat propagates NULL while DuckDB's
        # concat SKIPS NULL arguments — || propagates on both engines
        "lang || ':' || source AS lang_src, length(text) AS text_len, "
        "replace(source, 'src', 'S') AS source_s, "
        "CAST(regexp_extract(source, '(src)([0-9]+)', 2) AS INT) AS src_num "
        "FROM documents"
    ),
    "fn_datetime": (
        "SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo, "
        "day(o_orderdate) AS dy, date_trunc('month', o_orderdate) AS mon_start, "
        "CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) "
        "AS days_since FROM orders"
    ),
    "fn_math": (
        "SELECT l_orderkey, l_linenumber, round(l_extendedprice, 1) AS price_r1, "
        "round(abs(l_extendedprice - 30000), 2) AS abs_dev, "
        "round(sqrt(l_extendedprice), 4) AS price_sqrt, "
        "round(ln(l_extendedprice), 4) AS price_ln, "
        "round(power(l_discount + 1, 2), 4) AS disc_pow, "
        "l_orderkey % 7 AS key_mod FROM lineitem"
    ),
    "fn_array": (
        "SELECT vec_id, CAST(len(embedding) AS INT) AS dim, "
        "round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_el, "
        "round(sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm "
        "FROM embeddings"
    ),
    "fn_json": (
        "SELECT event_type, count(*) AS n, "
        "round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k, "
        "min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k, "
        "max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k "
        "FROM events GROUP BY event_type"
    ),
    "fn_struct_map": (
        "SELECT doc_id, lang, n_chars % 100 AS chars_mod FROM documents"
    ),
    "fn_zorder_interleave": (
        "SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y, "
        f"{_zorder_sql()} AS zcode FROM lineitem WHERE l_orderkey < 400"
    ),
    "fn_uuid_deterministic": (
        "SELECT p_partkey, p_name, "
        "substr(md5(p_name), 1, 8) || '-' || substr(md5(p_name), 9, 4) || "
        "'-3' || substr(md5(p_name), 14, 3) || '-8' || "
        "substr(md5(p_name), 18, 3) || '-' || substr(md5(p_name), 21, 12) "
        "AS uuid3 FROM part WHERE p_partkey <= 100"
    ),
    "fn_luhn_check": (
        "WITH a AS (SELECT o_orderkey, "
        "lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS acct FROM orders), "
        "s AS (SELECT o_orderkey, acct, "
        "CAST(list_sum(list_transform(range(0, 12), i -> "
        "CASE WHEN i % 2 = 1 THEN "
        "CASE WHEN 2 * CAST(substring(acct, CAST(12 - i AS INT), 1) AS INT) > 9 "
        "THEN 2 * CAST(substring(acct, CAST(12 - i AS INT), 1) AS INT) - 9 "
        "ELSE 2 * CAST(substring(acct, CAST(12 - i AS INT), 1) AS INT) END "
        "ELSE CAST(substring(acct, CAST(12 - i AS INT), 1) AS INT) END)) "
        "AS BIGINT) AS luhn_sum FROM a) "
        "SELECT o_orderkey, acct, luhn_sum, luhn_sum % 10 = 0 AS luhn_valid "
        "FROM s"
    ),
    "fn_geohash": (
        "WITH h AS (SELECT c_custkey, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 1, 4))::BIGINT % 120) "
        "- 60 AS lat_t, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 5, 4))::BIGINT % 360) "
        "- 180 AS lon_t FROM customer), "
        "b AS (SELECT c_custkey, lat_t, lon_t, "
        "((lat_t + 900) * 32768) // 1800 AS latb, "
        "((lon_t + 1800) * 32768) // 3600 AS lonb FROM h), "
        "g AS (SELECT c_custkey, lat_t, lon_t, "
        + _gh_interleave("latb", "lonb", "duckdb")
        + " AS zcode FROM b) "
        "SELECT c_custkey, lat_t, lon_t, zcode, "
        + _gh_chars("zcode", "duckdb")
        + " AS geohash6 FROM g"
    ),
    "fn_business_days": (
        "SELECT l_orderkey, l_linenumber, "
        f"CAST(date_diff('day', DATE '{BD_ANCHOR}', o_orderdate) AS INT) "
        "AS order_x, "
        f"CAST(date_diff('day', DATE '{BD_ANCHOR}', l_shipdate) AS INT) "
        "AS ship_x, "
        f"CAST(date_diff('day', DATE '{BD_ANCHOR}', o_orderdate) % 7 AS INT) "
        "AS order_dow, "
        "CAST("
        + _kw_f(f"date_diff('day', DATE '{BD_ANCHOR}', l_shipdate)")
        + " - "
        + _kw_f(f"date_diff('day', DATE '{BD_ANCHOR}', o_orderdate)")
        + " AS INT) AS biz_days "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ),
    "fn_fiscal_445": (
        "WITH d AS (SELECT o_orderkey, o_orderdate, "
        f"date_diff('day', DATE '{FISCAL_ANCHOR}', o_orderdate) AS x "
        "FROM orders) "
        "SELECT o_orderkey, o_orderdate, "
        "CAST(1992 + (x // 7) // 52 AS INT) AS fiscal_year, "
        "CAST(1 + ((x // 7) % 52) // 13 AS INT) AS fiscal_quarter, "
        "CAST(CASE WHEN ((x // 7) % 52) % 13 < 4 THEN 1 "
        "WHEN ((x // 7) % 52) % 13 < 8 THEN 2 ELSE 3 END AS INT) "
        "AS period_in_quarter, "
        "CAST(1 + (x // 7) % 52 AS INT) AS fiscal_week FROM d"
    ),
    "fn_snowflake_id": (
        "WITH enc AS (SELECT o_orderkey, "
        "((o_orderkey * 1000 + o_orderkey % 997) << 22) "
        "+ ((o_orderkey % 32) << 12) + (o_orderkey % 4096) "
        "AS snowflake_id FROM orders) "
        "SELECT o_orderkey, snowflake_id, "
        "snowflake_id >> 22 AS dec_ms, "
        "(snowflake_id >> 12) & 1023 AS dec_worker, "
        "snowflake_id & 4095 AS dec_seq, "
        f"epoch_ms({SNOW_EPOCH_MS} + (snowflake_id >> 22)) AS dec_ts "
        "FROM enc"
    ),
    "fn_base62_codec": (
        "WITH enc AS (SELECT o_orderkey, "
        + _b62_encode("o_orderkey", "duckdb")
        + " AS b62 FROM orders) "
        "SELECT o_orderkey, b62, "
        "CAST(" + _b62_decode("b62") + " AS BIGINT) AS decoded, "
        "(" + _b62_decode("b62") + ") = o_orderkey AS roundtrip_ok "
        "FROM enc"
    ),
    "fn_holiday_observed": (
        f"WITH spine AS (SELECT raw, name, "
        "CAST(CASE date_diff('day', DATE '1991-12-30', raw) % 7 "
        "WHEN 5 THEN raw - INTERVAL 1 DAY "
        "WHEN 6 THEN raw + INTERVAL 1 DAY "
        f"ELSE raw END AS DATE) AS observed FROM (VALUES {_HOLIDAY_ROWS}) "
        "AS t(raw, name)) "
        "SELECT strftime(observed, '%Y-%m-%d') AS holiday_date, name, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 "
        "AS BIGINT) AS BIGINT) / 100.0 AS holiday_revenue "
        "FROM orders JOIN spine ON o_orderdate = observed "
        "GROUP BY 1, 2"
    ),
    "fn_feistel_permute": (
        "WITH enc AS (SELECT o_orderkey, "
        + _feistel("o_orderkey", "duckdb")
        + " AS permuted_id FROM orders) "
        "SELECT o_orderkey, permuted_id, "
        + _feistel("permuted_id", "duckdb", inverse=True)
        + " AS recovered, "
        + _feistel("permuted_id", "duckdb", inverse=True)
        + " = o_orderkey AS roundtrip_ok FROM enc"
    ),
    "fn_delta_encode": (
        "WITH d AS (SELECT o_orderpriority, "
        "o_orderkey - lag(o_orderkey) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_orderkey) AS delta FROM orders), "
        "b AS (SELECT o_orderpriority, delta, "
        "length(to_base(delta, 2)) AS bits FROM d WHERE delta IS NOT NULL), "
        "g AS (SELECT o_orderpriority, count(*) AS n_deltas, "
        "max(delta) AS max_delta, max(bits) AS bits_needed, "
        "sum(bits) AS sum_bits FROM b GROUP BY 1) "
        "SELECT o_orderpriority, CAST(n_deltas AS BIGINT) AS n_deltas, "
        "CAST(max_delta AS BIGINT) AS max_delta, "
        "CAST(bits_needed AS INT) AS bits_needed, "
        "CAST((2 * 1000 * bits_needed * n_deltas + 64 * n_deltas) "
        "// (2 * 64 * n_deltas) AS BIGINT) AS packed_pm FROM g"
    ),
    "fn_iso_duration": (
        "WITH enc AS (SELECT o_orderkey, "
        "concat('P', o_orderkey % 28, 'DT', o_orderkey % 24, 'H', "
        "o_orderkey % 60, 'M', o_orderkey % 45, 'S') AS iso FROM orders) "
        "SELECT o_orderkey, iso, "
        "CAST(regexp_extract(iso, 'P(\\d+)DT', 1) AS BIGINT) * 86400 "
        "+ CAST(regexp_extract(iso, 'DT(\\d+)H', 1) AS BIGINT) * 3600 "
        "+ CAST(regexp_extract(iso, 'H(\\d+)M', 1) AS BIGINT) * 60 "
        "+ CAST(regexp_extract(iso, 'M(\\d+)S', 1) AS BIGINT) "
        "AS total_seconds, "
        "(CAST(regexp_extract(iso, 'P(\\d+)DT', 1) AS BIGINT) * 86400 "
        "+ CAST(regexp_extract(iso, 'DT(\\d+)H', 1) AS BIGINT) * 3600 "
        "+ CAST(regexp_extract(iso, 'H(\\d+)M', 1) AS BIGINT) * 60 "
        "+ CAST(regexp_extract(iso, 'M(\\d+)S', 1) AS BIGINT)) "
        "= ((o_orderkey % 28) * 86400 + (o_orderkey % 24) * 3600 "
        "+ (o_orderkey % 60) * 60 + (o_orderkey % 45)) AS roundtrip_ok "
        "FROM enc"
    ),
    "fn_iban_mod97": (
        "SELECT o_orderkey, "
        "lpad(CAST(o_orderkey AS VARCHAR), 18, '0') AS acct, "
        f"CAST({_fold_duck()} AS BIGINT) AS base_mod97, "
        f"CAST(((1 - ({_fold_duck()} * 100) % 97) % 97 + 97) % 97 "
        "AS BIGINT) AS check_digits, "
        f"(({_fold_duck()} * 100 + "
        f"((1 - ({_fold_duck()} * 100) % 97) % 97 + 97) % 97) % 97) = 1 "
        "AS valid FROM orders"
    ),
    "fn_hash_avalanche": (
        "WITH w AS (SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), "
        "1, 8))::BIGINT AS w FROM orders), "
        f"b AS (SELECT w, unnest(range({AVAL_BITS})) AS bit FROM w) "
        "SELECT CAST(bit AS INT) AS bit, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum((w >> CAST(bit AS INT)) & 1) AS BIGINT) AS ones, "
        "CAST((2 * 1000 * sum((w >> CAST(bit AS INT)) & 1) + count(*)) "
        "// (2 * count(*)) AS BIGINT) AS ones_pm FROM b GROUP BY 1"
    ),
}
