#!/usr/bin/env python3
"""Self-tests of the index generator: the spec-anchor rule and the
ScaleProbe log rows every probe parser reads.

    python3 -m unittest tools/test_gen_index.py
"""
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen_index  # noqa: E402


class FindSpecTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)
        src = os.path.join(self.tmp.name, "Dedup.scala")
        with open(src, "w") as f:
            f.write("object Dedup {\n"
                    "  def pairsOf(docs: DataFrame): DataFrame = docs\n"
                    '    "q_x" -> ((s, d) => helper(s, d)),\n'
                    "}\n")
        self.impl = f"{src}:2"      # declares pairsOf
        self.inline = f"{src}:3"    # an entry line: declares nothing

    def find(self, impl, texts):
        return gen_index.find_spec("q_x", impl, texts)

    def test_module_spec_wins_over_earlier_hits(self):
        texts = [("t/QueriesIndexSpec.scala", 'Seq("q_x")'),
                 ("t/ops/OtherSpec.scala", "Dedup.pairsOf(df)"),
                 ("t/ops/DedupSpec.scala", "Dedup.pairsOf(df)")]
        self.assertEqual(self.find(self.impl, texts), "t/ops/DedupSpec.scala")

    def test_a_spec_calling_the_impl_beats_a_quoted_name(self):
        texts = [("t/QueriesIndexSpec.scala", 'Seq("q_x")'),
                 ("t/ops/OtherSpec.scala", "Dedup.pairsOf(df)")]
        self.assertEqual(self.find(self.impl, texts), "t/ops/OtherSpec.scala")

    def test_the_quoted_query_name_anchors(self):
        texts = [("t/ops/OtherSpec.scala", "q_x is mentioned unquoted"),
                 ("t/ProbeSpec.scala", 'run(Array("q_x"))')]
        self.assertEqual(self.find(self.inline, texts), "t/ProbeSpec.scala")

    def test_incidental_mentions_are_no_anchor(self):
        # a helper the entry calls, a longer name that contains the impl's,
        # and the query name unquoted
        texts = [("t/ops/HelperSpec.scala", "helper(s, d)"),
                 ("t/ops/LongerSpec.scala", "Dedup.pairsOfBands(df)"),
                 ("t/ops/ProseSpec.scala", "// q_x is slow")]
        self.assertIsNone(self.find(self.impl, texts))


# Rows copied verbatim from `ScaleProbe 2 …` logs of each mode (the full
# mode, `only`, cust-only, graph-only, copurchase-split and ss-only).
PROBE_LOG = """\
[scale] built 2x dataset at /tmp/graft_sf_x2
[scale] query                        1x(s)   2x(s)  ratio
[scale] q_basket_pairs                 8.30    6.11   0.74
[scale] q_order_gaps                   1.28    0.96   0.75
[scale] TOTAL 1x=30.3s 2x=24.1s ratio=0.8 (ideal ≤ 2)
[scale] warehouse                    1x(s)   2x(s)  ratio
[scale] materialize                   45.15   54.71   1.21
[scale] w_daily_cycle                  1.75    1.88   1.07
[scale] WH TOTAL 1x=19.1s 2x=20.1s ratio=1.1 (ideal ≤ 2)
[guard] 1x   guarded pairs=     2117 (  0.51s, editdist   1.56s)  dense pairs=     2117 (  0.42s, editdist   1.89s)  dense/guarded=   1.0x
[scale-cust] q_order_gaps (o_custkey shifted) 1x=0.90s 2x=0.70s ratio=0.8 (ideal ≤ 2; constant per-customer depth)
[scale-part] query                        1x(s)   2x(s)  ratio (l_partkey shifted: constant per-part co-purchase degree)
[scale-part] q_triangle_stats               6.25    9.93   1.59
[scale-split] q_copurchase_partners:pairs    7.49    9.83   1.31
[scale-split] q_copurchase_partners:window   1.56    0.72   0.46
[scale-ss] 1x   index build=  9.45s  check=  6.21s  mask=  9.76s  (pairs=49, ranges=50)
[scale-ss-q] q_dedup_substring_inc          6.21    4.78   0.77
[scale-ss-q] q_span_mask_ranges_inc         9.76    7.75   0.79
[scale-ss-w] w_ss_ingest                   31.87   36.60   1.15
[scale-ss-w] w_ss_ingest_shingle            2.19    3.06   1.40
"""


class ProbeParserTest(unittest.TestCase):
    def setUp(self):
        fd, self.log = tempfile.mkstemp(suffix=".log")
        with os.fdopen(fd, "w") as f:
            f.write(PROBE_LOG)
        self.addCleanup(os.remove, self.log)

    def test_scale_rows(self):
        self.assertEqual(gen_index.parse_probe_logs([self.log]),
                         {"q_basket_pairs": 0.74, "q_order_gaps": 0.75})

    def test_shifted_rows(self):
        self.assertEqual(gen_index.parse_shifted_logs([self.log]),
                         {"q_order_gaps": 0.8, "q_triangle_stats": 1.59,
                          "q_dedup_substring_inc": 0.77,
                          "q_span_mask_ranges_inc": 0.79})

    def test_split_rows(self):
        self.assertEqual(gen_index.parse_split_logs([self.log]),
                         {("q_copurchase_partners", "pairs"): 1.31,
                          ("q_copurchase_partners", "window"): 0.46})

    def test_stream_rows(self):
        self.assertEqual(gen_index.parse_stream_logs([self.log]),
                         {"w_ss_ingest": 1.15, "w_ss_ingest_shingle": 1.40})

    def test_cross_run_minimum(self):
        fd, other = tempfile.mkstemp(suffix=".log")
        with os.fdopen(fd, "w") as f:
            f.write("[scale] q_degree_dist                  0.18    0.17   0.96\n"
                    "[scale] q_order_gaps                   0.60    1.09   1.80\n")
        self.addCleanup(os.remove, other)
        for logs in ([self.log, other], [other, self.log]):
            self.assertEqual(gen_index.parse_probe_logs(logs),
                             {"q_basket_pairs": 0.74, "q_degree_dist": 0.96,
                              "q_order_gaps": 0.75})


if __name__ == "__main__":
    unittest.main()
