"""Input generators for the benchmark.

Two kinds of input, kept apart on purpose:

* `write_tables` builds the ten query tables (the TESTDATA.md schemas) at a
  scale factor from a FIXED table seed, so every run reads the same tables
  and the per-query expected hashes in `expected/` hold for every `--seed`.
  Value domains follow the TESTDATA.md tables (see tools/gen_sf1.py,
  which profiles them); row counts scale linearly with `sf`.
* `etl_records` / `etl_plan` derive the write workload's records from the
  run's `--seed`: the same seed gives the same records.

Tables are written by DuckDB with one thread, which makes `random()` after
`setseed` repeat exactly.
"""
import json
import os
import random

TABLE_SEED = 0.42

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def _counts(sf):
    def n(x, floor=10):
        return max(floor, int(round(x * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def write_tables(out_dir, sf):
    """Write the ten parquet tables for scale factor `sf` under `out_dir`."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    c = _counts(sf)
    con = duckdb.connect()
    con.sql("SET threads = 1")
    con.execute(f"SELECT setseed({TABLE_SEED})").fetchall()

    def write(name, sql):
        tmp = os.path.join(out_dir, f".{name}.parquet")
        con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, "
          f"{regions}[i + 1] AS r_name FROM range(5) t(i)")
    write("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, "
          "'NATION_' || CAST(i AS VARCHAR) AS n_name, "
          "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)")
    write("customer", f"""
      SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
             CAST(floor(random() * 25) AS INTEGER) AS c_nationkey,
             round(random() * 9000 + 1000, 2) AS c_acctbal,
             ['HOUSEHOLD','FURNITURE','MACHINERY','BUILDING','AUTOMOBILE']
               [CAST(floor(random() * 5) AS INTEGER) + 1] AS c_mktsegment
      FROM range({c['customer']}) t(i)""")
    write("supplier", f"""
      SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
             CAST(floor(random() * 25) AS INTEGER) AS s_nationkey,
             round(random() * 9000 + 1000, 2) AS s_acctbal
      FROM range({c['supplier']}) t(i)""")
    write("part", f"""
      SELECT i AS p_partkey,
             ['large','hot','blue','red','green','small','shiny','dark']
               [CAST(floor(random() * 8) AS INTEGER) + 1] || ' ' ||
             ['ring','bolt','screw','nut','gear','wheel','pin','rod']
               [CAST(floor(random() * 8) AS INTEGER) + 1] AS p_name,
             'Brand#' || CAST(CAST(floor(random() * 25) AS INTEGER) + 1 AS VARCHAR)
               AS p_brand,
             ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']
               [CAST(floor(random() * 6) AS INTEGER) + 1] AS p_type,
             CAST(floor(random() * 50) AS INTEGER) + 1 AS p_size,
             round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
      FROM range({c['part']}) t(i)""")
    write("orders", f"""
      SELECT i AS o_orderkey,
             CAST(floor(random() * {c['customer']}) AS BIGINT) AS o_custkey,
             ['O','P','F'][CAST(floor(random() * 3) AS INTEGER) + 1] AS o_orderstatus,
             round(random() * 499000 + 1000, 2) AS o_totalprice,
             TIMESTAMP '1995-01-01' + INTERVAL (CAST(floor(random() * 2405) AS INTEGER)) DAY
               AS o_orderdate,
             ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
               [CAST(floor(random() * 5) AS INTEGER) + 1] AS o_orderpriority
      FROM range({c['orders']}) t(i)""")
    write("lineitem", f"""
      SELECT CAST(floor(random() * {c['orders']}) AS BIGINT) AS l_orderkey,
             CAST(floor(random() * {c['part']}) AS BIGINT) AS l_partkey,
             CAST(floor(random() * {c['supplier']}) AS BIGINT) AS l_suppkey,
             CAST(floor(random() * 7) AS INTEGER) + 1 AS l_linenumber,
             CAST(floor(random() * 50) + 1 AS DOUBLE) AS l_quantity,
             round(random() * 104100 + 900, 2) AS l_extendedprice,
             round(floor(random() * 11) / 100.0, 2) AS l_discount,
             round(floor(random() * 9) / 100.0, 2) AS l_tax,
             ['A','N','R'][CAST(floor(random() * 3) AS INTEGER) + 1] AS l_returnflag,
             ['O','F'][CAST(floor(random() * 2) AS INTEGER) + 1] AS l_linestatus,
             TIMESTAMP '1995-01-01' + INTERVAL (CAST(floor(random() * 2500) AS INTEGER)) DAY
               AS l_shipdate
      FROM range({c['lineitem']}) t(i)""")
    write("events", f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' +
               INTERVAL (CAST(floor(i * (30.0 * 86400000000 / {c['events']})
                 + random() * 2000000) AS BIGINT)) MICROSECOND AS ts,
             CAST(floor(random() * 15000) AS BIGINT) AS user_id,
             ['signup','click','error','view','purchase']
               [CAST(floor(random() * 5) AS INTEGER) + 1] AS event_type,
             round(random() * 560, 2) AS value,
             '{{"k": ' || CAST(CAST(floor(random() * 100) AS INTEGER) AS VARCHAR) || '}}'
               AS props
      FROM range({c['events']}) t(i)""")
    vocab_sql = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    con.sql(f"""
      CREATE TEMP TABLE d AS
        SELECT i AS doc_id,
               list_aggregate(list_transform(range(1,
                 CAST(floor(random() * 90) AS INTEGER) + 9),
                 x -> {vocab_sql}[CAST(floor(random() * 31) AS INTEGER) + 1]),
                 'string_agg', ' ') AS text,
               CASE WHEN random() < 0.43 THEN 'en'
                    WHEN random() < 0.25 THEN 'es'
                    WHEN random() < 0.33 THEN 'de'
                    WHEN random() < 0.5 THEN 'fr'
                    ELSE 'zh' END AS lang,
               'src' || CAST(CAST(floor(random() * 20) AS INTEGER) AS VARCHAR)
                 AS source,
               CASE WHEN i > 0 AND random() < 0.05
                    THEN CAST(floor(random() * i) AS BIGINT) END AS dup_of
        FROM range({c['documents']}) t(i)""")
    # About 5% of documents are near-duplicates of an earlier one (its text
    # plus one word), as in the TESTDATA.md tables, so the dedup and
    # similarity-join queries have pairs to find.
    write("documents", """
      SELECT d.doc_id, coalesce(o.text || ' dup', d.text) AS text, d.lang, d.source,
             CAST(length(coalesce(o.text || ' dup', d.text)) AS BIGINT) AS n_chars
      FROM d LEFT JOIN d o ON o.doc_id = d.dup_of
      ORDER BY d.doc_id""")
    write("embeddings", f"""
      SELECT i AS vec_id,
             list_transform(range(1, 65), x -> CAST(random() - 0.5 AS FLOAT)) AS embedding,
             CAST(floor(random() * 10) AS INTEGER) AS label
      FROM range({c['embeddings']}) t(i)""")


def stage_documents(table_dir, stage_dir, files):
    """Split the `documents` table into `files` JSONL files (the stream's
    arrivals), round-robin by doc_id so every file holds the same share."""
    import duckdb
    os.makedirs(stage_dir, exist_ok=True)
    rows = duckdb.sql(
        "SELECT doc_id, text, lang, source, n_chars FROM "
        f"'{table_dir}/documents.parquet' ORDER BY doc_id").fetchall()
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    for k in range(files):
        with open(os.path.join(stage_dir, f"docs-{k:03d}.json"), "w") as f:
            for r in rows[k::files]:
                f.write(json.dumps(dict(zip(cols, r))) + "\n")
    return len(rows)


def etl_records(seed, n):
    """`n` JSON-ready records with ids 0..n-1: a nested struct, nullable
    fields (some absent, some JSON null) and a nested array."""
    rng = random.Random(seed)
    tags = ["alpha", "beta", "gamma", "delta", "eps"]
    out = []
    for i in range(n):
        r = {
            "id": i,
            "name": f"rec-{rng.randrange(10**6):06d}",
            "score": round(rng.uniform(0, 1000), 3),
            "active": rng.random() < 0.5,
            "meta": {
                "source": rng.choice(["web", "app", "batch"]),
                "rank": rng.randrange(100),
                "tags": rng.sample(tags, rng.randrange(1, 4)),
            },
        }
        if rng.random() < 0.2:
            r["note"] = None
        elif rng.random() < 0.5:
            r["note"] = "note-" + str(rng.randrange(1000))
        if rng.random() < 0.1:
            r["meta"]["rank"] = None
        out.append(r)
    return out


def etl_plan(seed, n_records, chunks, upserts, batch):
    """The write workload's inputs and its expected table states.

    create takes chunk 0, insert the other chunks. Each upsert batch mixes
    existing keys (with changed values) and new keys beyond the inserted
    range. The replace keeps every third key of the upserted table.
    Expected states are the key sets after each upsert and after the
    replace, modelled here independently of the program under test.
    """
    rng = random.Random(seed * 7919 + 1)
    base = etl_records(seed, n_records)
    size = -(-n_records // chunks)
    chunk_list = [base[i:i + size] for i in range(0, n_records, size)]
    keys = {r["id"] for r in base}
    next_id = n_records
    upsert_batches, after_upsert = [], []
    for _ in range(upserts):
        old = rng.sample(sorted(keys), batch // 2)
        fresh = list(range(next_id, next_id + batch - len(old)))
        next_id += len(fresh)
        recs = etl_records(rng.randrange(1 << 30), len(old) + len(fresh))
        for r, k in zip(recs, old + fresh):
            r["id"] = k
        upsert_batches.append(recs)
        keys |= set(fresh)
        after_upsert.append(sorted(keys))
    kept = sorted(k for k in keys if k % 3 == 0)
    replace_rows = etl_records(rng.randrange(1 << 30), len(kept))
    for r, k in zip(replace_rows, kept):
        r["id"] = k
    return {
        "chunks": chunk_list,
        "upserts": upsert_batches,
        "replace": replace_rows,
        "expect": {"after_upsert": after_upsert, "after_replace": kept},
    }


def dataset_plan(seed, days, per_day):
    """Partitioned-dataset appends: `days` daily partitions of version 1,
    then the last day again as version 2 (the evolved schema adds a
    field). The latest partition is version 2's last day."""
    rng = random.Random(seed * 104729 + 3)
    appends = []
    next_id = 0
    for version, ds in ((1, range(days)), (2, range(days - 1, days))):
        for d in ds:
            rows = []
            for _ in range(per_day):
                r = {"id": next_id, "kind": rng.choice(["a", "b", "c"]),
                     "amount": round(rng.uniform(0, 100), 2)}
                if version == 2:
                    r["channel"] = rng.choice(["web", "app"])
                rows.append(r)
                next_id += 1
            appends.append({"version": version, "day": d + 1, "rows": rows})
    return {"appends": appends, "expect": {"total_rows": next_id}}
