"""Every catalog query has exactly one family, and the family table is the
one the engine's own plans give (this test builds the engine and runs every
query once on the relational tables only, about a minute on 4 cores)."""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import datagen    # noqa: E402
import run        # noqa: E402
import workloads  # noqa: E402


class Families(unittest.TestCase):
    def test_each_query_has_one_family(self):
        self.assertFalse(set(workloads.ETL) & set(workloads.LLM))
        self.assertEqual(len(workloads.FAMILY), len(workloads.ETL) + len(workloads.LLM))

    def test_measured_queries_are_known_and_span_both_families(self):
        qs = workloads.WORKLOADS["catalog"]["queries"]
        self.assertEqual(len(qs), len(set(qs)))
        self.assertTrue(set(qs) <= set(workloads.FAMILY))
        self.assertEqual({workloads.FAMILY[q] for q in qs}, {"etl", "llm"})

    def test_family_table_matches_the_observed_rule(self):
        os.chdir(os.path.dirname(HERE))
        run.require_sources()
        cp = run.build()
        work = run.fresh_dir(os.path.join(run.BUILD, "work", "classify"))
        data = os.path.join(work, "data")
        datagen.catalog_tables(data, seed=1, sf=0.001)
        for t in ("documents", "embeddings"):
            os.remove(os.path.join(data, f"{t}.parquet"))
        observed = run.harness(cp, ["--workload", "classify", "--data", data,
                                    "--cpus", str(workloads.CPUS)], work)["families"]
        # a new SparkEntry query fails here until it is given a family
        self.assertEqual(observed, workloads.FAMILY)


if __name__ == "__main__":
    unittest.main()
