"""Seeded generator of the driver-contract tables (TESTDATA.md schemas and
value domains), one parquet file per table. Every value is a hash of
(seed, salt, row id), so a seed always gives the same files."""
import os

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line", "data",
         "table", "agg", "value", "key", "stream", "window", "spark", "a",
         "group", "part", "big", "sort", "query", "fast", "the"]


def sizes(sf):
    def n(base):
        return max(1, round(base * sf))
    # the text and vector tables keep at least 500 rows, as the driver's
    # own sf0.001 tables do
    return dict(customer=n(150000), supplier=n(10000), part=n(200000),
                orders=n(1500000), lineitem=n(6000000), events=n(1000000),
                users=n(15000), documents=max(500, n(50000)),
                embeddings=max(500, n(50000)))


def tables(sf, seed):
    z = sizes(sf)

    def u(salt, i="i"):
        # one 64-bit mix of a single integer: DuckDB's multi-argument
        # hash combines its arguments too weakly for independent columns
        mix = salt * 1000000007 + seed * 998244353
        return (f"((hash(({i}) * 1000003 + {mix}) % 1099511627776)::DOUBLE"
                f" / 1099511627776.0)")

    def ui(salt, lo, hi, i="i"):
        return f"({lo} + floor({u(salt, i)} * {hi - lo + 1})::BIGINT)"

    def pick(xs, salt, i="i"):
        arr = "[" + ", ".join(f"'{x}'" for x in xs) + "]"
        return f"{arr}[1 + {ui(salt, 0, len(xs) - 1, i)}]"

    def day(base, salt, span):
        return f"(TIMESTAMP '{base}' + to_days({ui(salt, 0, span - 1)}::INTEGER))"

    def money(expr):
        return f"round({expr}, 2)"

    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    ev_span = 30 * 86400 * 1000000 / z["events"]
    return {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {ui(1, 0, 24)}::INTEGER AS c_nationkey,
            {money(f"{u(2)} * 10999.98 - 999.99")} AS c_acctbal,
            {pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                   "MACHINERY"], 3)} AS c_mktsegment
            FROM range({z['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {ui(4, 0, 24)}::INTEGER AS s_nationkey,
            {money(f"{u(5)} * 10999.98 - 999.99")} AS s_acctbal
            FROM range({z['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick(["blue", "cold", "small", "big", "red", "green", "old",
                   "new"], 6)} || ' ' ||
            {pick(["widget", "anvil", "gear", "bolt", "spring", "valve",
                   "lever", "pump"], 7)} AS p_name,
            'Brand#' || {ui(8, 1, 25)} AS p_brand,
            {pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                   "STANDARD"], 9)} AS p_type,
            {ui(10, 1, 50)}::INTEGER AS p_size,
            900.0 + (i % 1000) / 10.0 AS p_retailprice
            FROM range({z['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
            {ui(11, 0, z['customer'] - 1)} AS o_custkey,
            {pick(["F", "O", "P"], 12)} AS o_orderstatus,
            {money(f"{u(13)} * 499000.0 + 1000.0")} AS o_totalprice,
            {day("1995-01-01", 14, 2405)} AS o_orderdate,
            {pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                   "5-LOW"], 15)} AS o_orderpriority
            FROM range({z['orders']}) t(i)""",
        "lineitem": f"""SELECT {ui(16, 0, z['orders'] - 1)} AS l_orderkey,
            {ui(17, 0, z['part'] - 1)} AS l_partkey,
            {ui(18, 0, z['supplier'] - 1)} AS l_suppkey,
            {ui(19, 1, 7)}::INTEGER AS l_linenumber,
            {ui(20, 1, 50)}::DOUBLE AS l_quantity,
            {money(f"{u(21)} * 104096.0 + 901.0")} AS l_extendedprice,
            {ui(22, 0, 10)} / 100.0 AS l_discount,
            {ui(23, 0, 8)} / 100.0 AS l_tax,
            {pick(["A", "N", "R"], 24)} AS l_returnflag,
            {pick(["F", "O"], 25)} AS l_linestatus,
            {day("1995-01-02", 26, 2499)} AS l_shipdate
            FROM range({z['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            make_timestamp(1704067200000000 +
              ((i + {u(27)}) * {ev_span})::BIGINT) AS ts,
            {ui(28, 0, z['users'] - 1)} AS user_id,
            {pick(["click", "error", "purchase", "signup", "view"], 29)}
              AS event_type,
            {money(f"{u(30)} * 490.0 + 0.01")} AS value,
            '{{"k": ' || {ui(31, 0, 99)} || '}}' AS props
            FROM range({z['events']}) t(i)""",
        # random word documents; one in twenty is an earlier document plus
        # a trailing " dup" (the near duplicates the dedup queries find)
        "documents": f"""WITH w AS (
              SELECT i, array_to_string(list_transform(
                  range(1, {ui(35, 10, 99)} + 1),
                  k -> {vocab}[1 + {ui(36, 0, len(VOCAB) - 1, "i * 100 + k")}]),
                ' ') AS base,
                {u(37)} < 0.05 AND i > 0 AS is_dup,
                floor({u(38)} * i)::BIGINT AS src
              FROM range({z['documents']}) t(i)),
            d AS (SELECT w.i, CASE WHEN w.is_dup THEN s.base || ' dup'
                                   ELSE w.base END AS text
              FROM w LEFT JOIN w s ON s.i = w.src)
            SELECT i AS doc_id, text,
              {pick(["en", "en", "en", "de", "es", "fr", "zh"], 39)} AS lang,
              'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM d ORDER BY i""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), k ->
              (({u(32, f"{ui(33, 0, 9)} * 64 + k")} - 0.5) * 0.4 +
               ({u(34, "i * 64 + k")} - 0.5) * 0.2)::FLOAT) AS embedding,
            {ui(33, 0, 9)}::INTEGER AS label
            FROM range({z['embeddings']}) t(i)""",
    }


def generate(out_dir, sf, seed):
    """Writes `<out_dir>/<table>.parquet`; returns {table: rows}."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rows = {}
    for name, sql in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY ALL) TO '{path}' (FORMAT PARQUET)"
                    if name not in ("documents",) else
                    f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        rows[name] = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    return rows
