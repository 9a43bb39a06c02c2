"""headline_mix: the 16 headline slots of ``__spark_entry__`` on
generated sf0.01-shaped tables.

The slot list is a copy of ``bench.py``'s HEADLINE, so later edits there
cannot change this workload. Each merged slot runs its canonical branch
(``bench.py``'s CANONICAL_BRANCH, the repository's fixed-work series):
a cold pass over the full tagged unions takes ~57 s on 4 cores, more than
one run of this benchmark can spend. Slots run in the list's order: every
run starts a fresh JVM, so the first slots pay shared first-use costs,
and a seed-permuted order moved those costs between slots and made the
slot-latency median swing with the seed. A run makes two passes, a cold
and a warm one (see ``ROUND_S`` in ``run.py``), and both are timed: the
median over the slot latencies of one pass swung with the host's slow
spells and, in a cold pass, with which side of a gap the middle slots fell
on. Every slot output is checked against its ``oracle_sql()`` entry,
restricted to the branch's tag, the way ``tools/compare.py --exact``
compares.
"""

from __future__ import annotations

import os

from perfbench import check, gen

HEADLINE = [
    "q01_pricing_summary",
    "q06_join_multi",
    "q07_map_dimension",
    "q09_two_table",
    "q12_peak_load",
    "q20_unpivot",
    "q21_scalar_datetime",
    "q23_time_downsample",
    "q24_annual_to_hourly",
    "q28_dedup_exact",
    "q30_minhash_dedup",
    "q31_simhash_dedup",
    "q32_similarity_bruteforce",
    "q44_embedding_neardup",
    "q50_dst_duplicate",
    "q05_project_query",
]

# slot -> (canonical branch, tag column of the slot's tagged union)
CANONICAL = {
    "q06_join_multi": ("multi", "op"),
    "q07_map_dimension": ("agg", "mode"),
    "q12_peak_load": ("peak", "tag"),
    "q21_scalar_datetime": ("month", "op"),
    "q23_time_downsample": ("down", "mode"),
    "q28_dedup_exact": ("batch", "op"),
    "q30_minhash_dedup": ("full", "op"),
    "q31_simhash_dedup": ("chunk", "op"),
    "q32_similarity_bruteforce": ("brute", "op"),
    "q44_embedding_neardup": ("pair", "op"),
    "q50_dst_duplicate": ("spring", "tag"),
}

# tables each slot's canonical branch reads (the rows_per_s numerator)
TABLE_READS = {
    "q01_pricing_summary": ["lineitem"],
    "q06_join_multi": ["customer", "nation", "region"],
    "q07_map_dimension": ["customer", "nation"],
    "q09_two_table": ["lineitem", "orders"],
    "q12_peak_load": ["events"],
    "q20_unpivot": ["lineitem"],
    "q21_scalar_datetime": ["lineitem"],
    "q23_time_downsample": ["events"],
    "q24_annual_to_hourly": ["orders"],
    "q28_dedup_exact": ["documents"],
    "q30_minhash_dedup": ["documents"],
    "q31_simhash_dedup": ["documents"],
    "q32_similarity_bruteforce": ["embeddings"],
    "q44_embedding_neardup": ["embeddings"],
    "q50_dst_duplicate": ["events"],
    "q05_project_query": ["customer", "orders", "nation", "region"],
}

_TABLE_ROWS = {**gen.TPCH_ROWS, "nation": 25, "region": 5}


class HeadlineMix:
    name = "headline_mix"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.data_dir = None
        self.expected = {}

    def generate(self, out_dir: str) -> None:
        gen.write_tpch_tables(self.seed, out_dir)

    def prepare(self, data_dir: str, work_dir: str) -> None:
        """Oracle results for every slot, then one table count, so JVM
        start-up costs do not land on the first slot (each slot infers
        its tables' schemas itself, so counting the others would only
        move that work into set-up)."""
        import __spark_entry__ as entry
        from dsgrid_spark.sources.tables import load_table

        self.data_dir = data_dir
        self.entry = entry
        self.slots = entry.queries()
        oracles = entry.oracle_sql()
        con = check.duck({t: os.path.join(data_dir, f"{t}.parquet")
                          for t in _TABLE_ROWS})
        for slot in HEADLINE:
            sql = oracles[slot]
            if slot in CANONICAL:
                branch, col = CANONICAL[slot]
                sql = f"SELECT * FROM ({sql}) WHERE starts_with({col}, '{branch}')"
            self.expected[slot] = con.execute(sql).fetch_arrow_table()
        con.close()
        load_table(self.spark, data_dir, "lineitem").count()

    def build(self, slot: str):
        if slot == "q28_dedup_exact":
            return self.entry._q28_batch(self.spark, self.data_dir)
        if slot == "q44_embedding_neardup":
            return self.entry._q44_pair(self.spark, self.data_dir)
        if slot in CANONICAL:
            return self.slots[slot](self.spark, self.data_dir,
                                    branch=CANONICAL[slot][0])
        return self.slots[slot](self.spark, self.data_dir)

    def round(self, runner) -> None:
        for slot in HEADLINE:
            runner.query(slot, lambda s=slot: self.build(s),
                         lambda t, s=slot: check.exact_mismatch(t, self.expected[s]),
                         rows=sum(_TABLE_ROWS[t] for t in TABLE_READS[slot]))
            # slots persist their own intermediates (bench.py clears
            # between slots too)
            self.spark.catalog.clearCache()
