"""Amplified-scale testdata, and the one shuffled-hash-join envelope probe.

``write N OUT_DIR`` writes the ten testdata tables of sf0.1 N times over
into OUT_DIR, one parquet file per table with the source's physical
types (naive ``timestamp[us]`` dates and ``ts``, ``FLOAT[]``
embeddings), so every tool that takes a testdata directory runs on it
unchanged, and the DuckDB oracle checks it:

  python tools/scale_probe.py write 4 /tmp/sf0.1x4
  python tools/check_oracle.py /tmp/sf0.1x4
  python tools/preflight.py --sf-dir /tmp/sf0.1x4
  python tools/full_sweep.py --sf-dir /tmp/sf0.1x4
  python tools/qtime.py <query> --sf /tmp/sf0.1x4
  SPARK_GRAFT_SF_DIR=/tmp/sf0.1x4 python bench.py

Copies are independent rather than duplicates, so key cardinality and
pair volume grow with the data instead of collapsing onto hot keys:
ids are shifted per copy, and a join key gets the same per-copy shift
on both of its sides, so every foreign key still resolves inside its
own copy. ``nation`` and ``region`` are fixed dimensions and are copied
unchanged.

``shjskew [n]`` probes the session's preferSortMergeJoin=false default
against a skewed build side of n million rows (default 4); its result
is ``SCALE_PROBE_r20.jsonl``, which ``session.py`` cites.
"""

from __future__ import annotations

from functools import reduce
import json
from pathlib import Path
import shutil
import sys
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from datapipeline_spike_spark.plans.registry import TABLES, load  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

# per-copy key shifts, far above every key at sf0.1 (orders 150k,
# customers 15k, parts 20k, suppliers 1k)
O_SHIFT, C_SHIFT, S_SHIFT, P_SHIFT = (
    1_000_000_000, 100_000_000, 10_000_000, 50_000_000,
)
TPCH_SHIFTS = {
    "customer": {"c_custkey": C_SHIFT},
    "supplier": {"s_suppkey": S_SHIFT},
    "part": {"p_partkey": P_SHIFT},
    "orders": {"o_orderkey": O_SHIFT, "o_custkey": C_SHIFT},
    "lineitem": {"l_orderkey": O_SHIFT, "l_partkey": P_SHIFT, "l_suppkey": S_SHIFT},
}


def _amplify_keyed(spark, table: str, n: int, shifts: dict, src: str = SF_DIR,
                   rewrite=lambda i: {}):
    """n copies of ``table``, copy i with ``i * delta`` added to each
    shifted key and ``rewrite(i)``'s columns replaced; non-key columns
    otherwise repeat."""
    t = load(spark, src, table)

    def copy(i):
        cols = {c: F.col(c) + F.lit(i * delta) for c, delta in shifts.items()}
        return t.withColumns({**cols, **rewrite(i)})

    return reduce(DataFrame.unionByName, [copy(i) for i in range(n)])


def amplify_events(spark, n: int, src: str = SF_DIR):
    """User ids and event ids shifted per copy, so the number of users
    (and of sessions) grows with the data."""
    return _amplify_keyed(
        spark, "events", n, {"event_id": 10_000_000, "user_id": 1_000_000}, src
    )


def amplify_documents(spark, n: int, src: str = SF_DIR):
    """Copies must be textually INDEPENDENT: a suffix tag leaves ~all
    shingles shared, which makes every doc a near-dup of its n-1
    siblings and sends LSH candidate pairs quadratic BY CONSTRUCTION
    (the algorithm's documented behavior on dup-dense corpora, not a
    scaling property). A per-copy letter rotation rewrites most tokens,
    so copies don't collide."""
    a1, a2 = "etaoinshrd", "lucmfywgpb"

    def mutate(i):
        if i == 0:
            return {}
        # two independent rotations -> 81 distinct rewrites (one alone
        # repeats every 9 copies, silently reintroducing exact dups)
        r1, r2 = i % 9 + 1, i // 9 + 1
        out = F.translate(F.col("text"), a1, a1[r1:] + a1[:r1])
        return {"text": F.translate(out, a2, a2[r2:] + a2[:r2])}

    return _amplify_keyed(spark, "documents", n, {"doc_id": 1_000_000}, src, mutate)


def amplify_embeddings(spark, n: int, src: str = SF_DIR):
    """Vector ids shifted and the vector ROTATED by the copy index:
    rotation preserves the norm and produces genuinely distinct vectors
    (identical copies would make every row a near-dup of its siblings —
    quadratic pair volume by construction, not a scaling property)."""
    dim = len(load(spark, src, "embeddings").select("embedding").first()[0])

    def rot(i):
        k = i % dim
        if k == 0:
            return {}
        return {"embedding": F.concat(
            F.slice("embedding", k + 1, dim - k), F.slice("embedding", 1, k)
        )}

    return _amplify_keyed(spark, "embeddings", n, {"vec_id": 1_000_000}, src, rot)


AMPLIFIERS = {
    "events": amplify_events,
    "documents": amplify_documents,
    "embeddings": amplify_embeddings,
}


def write(spark, n: int, out_dir: str, src: str = SF_DIR) -> None:
    """Write every table of ``src`` amplified n times to
    ``out_dir/{table}.parquet``, one file each: DuckDB's oracle views
    read a file, not Spark's part-file directory, and one file keeps the
    single-split scan shape of the source tables."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for table in TABLES:
        if table in AMPLIFIERS:
            df = AMPLIFIERS[table](spark, n, src)
        elif table in TPCH_SHIFTS:
            df = _amplify_keyed(spark, table, n, TPCH_SHIFTS[table], src)
        else:
            df = load(spark, src, table)
        # load() reads the naive source timestamps as session-zoned
        # ones; cast them back so the file keeps timestamp[us]
        df = df.withColumns({
            f.name: F.col(f.name).cast("timestamp_ntz")
            for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)
        })
        tmp = out / f".{table}.tmp"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        (part,) = tmp.glob("part-*.parquet")
        part.replace(out / f"{table}.parquet")
        shutil.rmtree(tmp)


def shj_skew_probe(spark, n: int) -> None:
    """VERDICT r19 item 4: probe the session-wide
    spark.sql.join.preferSortMergeJoin=false default under a
    deliberately SKEWED build side — the stated risk is a hot build
    partition whose hash map outgrows task memory where SMJ would have
    sorted/spilled. The probe joins a uniform stream side against a
    build side whose hot key holds ~half the rows (payload-carrying, so
    the hash map holds real bytes), once with the repo default (SHJ
    eligible) and once with preferSortMergeJoin=true (SMJ), and records
    the statically chosen join node, wall time, output rows, and
    success. AQE skew-join handling stays on (the session default) —
    whether it rescues the hot partition is exactly what the probe
    measures."""
    # warm the JVM so the first mode's time is not start-up cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    n_build = n * 1_000_000
    pay = "x" * 96
    # Build side: half the rows on key 0 (the hot hash-map partition —
    # the key exists ONLY here, so the join OUTPUT does not explode and
    # the probe isolates build-map memory, not output volume), half
    # unique keys 1..n/2; ~110 B payload per row, so the hot partition
    # holds ~n/2 rows of real bytes in one task's hash map.
    build = spark.range(n_build).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise((F.col("id") + 1) / 2)
        .cast("long")
        .alias("k"),
        F.concat(F.lit(pay), F.col("id").cast("string")).alias("payload"),
    )
    # Stream side: 4x the rows (so the planner's muchSmaller(build,
    # stream) condition holds and the SKEWED side is the SHJ build
    # side), uniform over the build's unique keys — ~8 matches per key,
    # zero on the hot key.
    stream = spark.range(n_build * 4).select(
        (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(n_build // 2)) + 1).alias("k"),
        F.concat(F.lit(pay), F.col("id").cast("string")).alias("spayload"),
    )
    # NOTE: do NOT set autoBroadcastJoinThreshold=-1 here — the SHJ
    # size gate is canBuildLocalHashMap = size < threshold x
    # numShufflePartitions, so disabling broadcast would disable SHJ
    # selection entirely (measured: both modes fell back to SMJ). Both
    # sides' estimates sit above the 64 MB session threshold, so no
    # broadcast fires anyway.
    def _node(plan: str) -> str:
        if "ShuffledHashJoin" in plan:
            return "ShuffledHashJoin"
        return "SortMergeJoin" if "SortMergeJoin" in plan else "other"

    for pref in ("false", "true"):
        spark.conf.set("spark.sql.join.preferSortMergeJoin", pref)
        j = stream.join(build, "k")
        qe = j._jdf.queryExecution()
        initial = _node(qe.executedPlan().toString())
        # execute the dataset's OWN QueryExecution (JVM-side RDD count,
        # all columns materialized, nothing crosses to Python) so the
        # FINAL adaptive plan — where AQE re-picks the join strategy
        # with real sizes — is readable afterwards
        t0 = time.time()
        ok, err, rows = True, None, None
        try:
            rows = qe.toRdd().count()
        except Exception as exc:  # noqa: BLE001
            ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
        sec = round(time.time() - t0, 2)
        final = _node(qe.executedPlan().toString())
        print(
            json.dumps(
                {
                    "probe": "shj_skew_build_side",
                    "preferSortMergeJoin": pref,
                    "join_node_initial": initial,
                    "join_node_final": final,
                    "build_rows": n_build,
                    "hot_key_share": 0.5,
                    "payload_bytes": len(pay),
                    "sec": sec,
                    "rows_out": rows,
                    "ok": ok,
                    "err": err,
                }
            )
        )
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")


def main() -> None:
    cmd, *args = sys.argv[1:] or [""]
    if cmd == "write" and len(args) == 2:
        write(get_session("scale_probe"), int(args[0]), args[1])
    elif cmd == "shjskew" and len(args) <= 1:
        shj_skew_probe(get_session("scale_probe"), int(args[0]) if args else 4)
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
