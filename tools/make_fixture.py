"""Derive one degenerate fixture from a source fixture for the
robustness sweep (tools/sweep_degenerate.sh).  Every fixture holds the
same ten tables with the source's schema; SWEEP_DEGENERATE.md records
what each one caught.

- sf0          every table empty
- sfmin        every table cut to its first row
- sf001nulls   ~10% NULLs in payload columns (values, text, JSON props,
               one group key); join keys, dates and enums stay NOT NULL
- sf001nullfk  ~5% NULLs in join-key columns, including rows where both
               halves of the (l_partkey, l_suppkey) composite are NULL
- sf001uni     a multibyte prefix on 10% of documents; n_chars stays the
               code-point length of the new text
- sf001big     money/measure columns scaled x1e6 (order, joins and
               groups unchanged, only magnitudes move)
- sf001dup     every document and embedding repeated 10 times under
               fresh ids (id + i * (max id + 1)); 10, not more, because
               the exact dedup keys and their oracles grow with the
               square of the copy count

sf0 and sfmin are pyarrow slices, so the physical types survive
bit-exactly (events.ts stays INT64 TIMESTAMP(NANOS)); the rest are
DuckDB rewrites, deterministic and keyed on primary keys.  No Spark
session is needed; each fixture takes about a second.

Usage:  python tools/make_fixture.py <fixture> [src_dir] [out_dir]
        (src_dir defaults to the sf0.001 test fixture, out_dir to
         /tmp/testdata/<fixture>)
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: fixture -> rows kept from the head of every table
SLICES = {"sf0": 0, "sfmin": 1}


def _null_where(rules: dict[str, dict[str, str]]) -> dict[str, dict[str, str]]:
    """{table: {column: condition}} -> NULL the column where it holds."""
    return {
        t: {c: f"CASE WHEN {cond} THEN NULL ELSE {c} END" for c, cond in cols.items()}
        for t, cols in rules.items()
    }


#: the multibyte gauntlet: 2-byte (é, ß, ц), 3-byte (北, 京), 4-byte
#: non-BMP (🚀), and a combining acute on 'e' (e + U+0301)
UNI_PREFIX = "café ß Müller 北京 мир 🚀 re\u0301sume\u0301 "

#: fixture -> {table: {column: sql_expr}}; unlisted columns copy through
REWRITES: dict[str, dict[str, dict[str, str]]] = {
    "sf001nulls": _null_where({
        "orders": {"o_totalprice": "o_orderkey % 10 = 3"},
        "lineitem": {"l_discount": "(l_orderkey + l_linenumber) % 10 = 3"},
        "events": {"value": "event_id % 10 = 3", "props": "event_id % 10 = 7"},
        "documents": {"text": "doc_id % 10 = 3", "lang": "doc_id % 10 = 7"},
        "customer": {"c_acctbal": "c_custkey % 10 = 3"},
    }),
    "sf001nullfk": _null_where({
        "orders": {"o_custkey": "o_orderkey % 20 = 7"},
        "lineitem": {
            "l_partkey": "(l_orderkey + l_linenumber) % 20 IN (7, 3)",
            "l_suppkey": "(l_orderkey + l_linenumber) % 20 IN (13, 3)",
            "l_orderkey": "(l_orderkey + l_linenumber) % 20 = 17",
        },
        "events": {"user_id": "event_id % 20 = 7"},
        # higher rates on the small dimension tables: supplier has only
        # 10 rows at sf0.001, so % 20 would hit none
        "customer": {"c_nationkey": "c_custkey % 10 = 7"},
        "supplier": {"s_nationkey": "s_suppkey % 5 = 2"},
    }),
    "sf001uni": {"documents": {
        "text": f"CASE WHEN doc_id % 10 = 3 THEN '{UNI_PREFIX}' || text ELSE text END",
        "n_chars": f"CASE WHEN doc_id % 10 = 3 THEN length('{UNI_PREFIX}') + n_chars "
                   "ELSE n_chars END",
    }},
    "sf001big": {
        t: {c: f"{c} * 1000000"}
        for t, c in (("orders", "o_totalprice"), ("lineitem", "l_extendedprice"),
                     ("customer", "c_acctbal"), ("supplier", "s_acctbal"),
                     ("part", "p_retailprice"), ("events", "value"))
    },
}

#: sf001dup: table -> id column repeated under fresh ids
DUP_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}
DUP_COPIES = 10

FIXTURES = [*SLICES, *REWRITES, "sf001dup"]


def _dup_select(con, path: str, t: str) -> str:
    pk = DUP_TABLES[t]
    stride = con.execute(f"SELECT max({pk}) + 1 FROM read_parquet('{path}')").fetchone()[0]
    # max() over an empty table is NULL, which would silently write NULL
    # ids: fail loudly instead
    if stride is None:
        raise SystemExit(f"{path} is empty: cannot derive a duplication stride from max({pk})")
    return (
        f"SELECT t.* REPLACE ({pk} + c.i * {stride} AS {pk}) FROM read_parquet('{path}') t, "
        f"(SELECT unnest(range({DUP_COPIES})) AS i) c ORDER BY {pk}"
    )


def make(fixture: str, src: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    if fixture in SLICES:
        for t in TABLES:
            tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
            pq.write_table(tbl.slice(0, SLICES[fixture]), os.path.join(out, f"{t}.parquet"))
        return
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(src, f"{t}.parquet")
            if fixture == "sf001dup" and t in DUP_TABLES:
                select = _dup_select(con, path, t)
            else:
                # REPLACE keeps every column in place; naming a column
                # the table lacks is an error, not a silent no-op
                rewrites = REWRITES.get(fixture, {}).get(t, {})
                replace = ", ".join(f"{e} AS {c}" for c, e in rewrites.items())
                star = f"* REPLACE ({replace})" if replace else "*"
                select = f"SELECT {star} FROM read_parquet('{path}')"
            con.execute(f"COPY ({select}) TO '{os.path.join(out, t)}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in FIXTURES:
        raise SystemExit(f"usage: make_fixture.py {{{','.join(FIXTURES)}}} [src_dir] [out_dir]")
    fixture = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join("/tmp/testdata", fixture)
    make(fixture, src, out)
    print(f"{out}: {fixture}, {len(TABLES)} tables")


if __name__ == "__main__":
    main()
