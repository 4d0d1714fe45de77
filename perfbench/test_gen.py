"""The generated topics keep the reference topics' shape.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen


class TopicShape(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = cls.tmp.name
        gen.corpus(f"{cls.dir}/corpus", 7, replicas=2)
        cls.measured, cls.warm = gen.pick_topics(7, 20, 10)
        gen.topics(f"{cls.dir}/t.tsv", 7, cls.measured, f"{cls.dir}/corpus", 0)
        with open(f"{cls.dir}/t.tsv") as f:
            cls.lines = [l.rstrip("\n").split("\t") for l in f]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_reference_head_share(self):
        ref = gen.reference_topics()
        self.assertEqual(len(ref), 50)
        self.assertEqual(sum(gen.is_head(t) for _, t in ref), 7)

    def test_draws_are_disjoint_and_keep_the_mix(self):
        qids = [q for q, _ in self.measured]
        self.assertEqual(len(set(qids) & {q for q, _ in self.warm}), 0)
        self.assertEqual(gen.pick_topics(7, 20, 10)[0], self.measured)
        shape = lambda ts: sorted((gen.is_head(t), len(t)) for _, t in ts)  # noqa: E731
        other = gen.pick_topics(8, 20, 10)[0]
        self.assertNotEqual(other, self.measured)
        self.assertEqual(shape(other), shape(self.measured))
        # 7 of the 50 reference topics hold a stopword: 3 of 20; term
        # counts 1-4 split 9/5/2/1 as 23/12/6/2 of the other 43
        self.assertEqual(shape(self.measured),
                         [(False, 1)] * 9 + [(False, 2)] * 5 + [(False, 3)] * 2 +
                         [(False, 4)] + [(True, 2), (True, 3), (True, 5)])

    def test_split(self):
        # 1.5 / 1.5 / 2.0: the tied remainder goes to the earlier group
        self.assertEqual(gen._split(5, [[0] * 3, [0] * 3, [0] * 4]), [2, 1, 2])
        self.assertEqual(gen._split(3, [[0] * 2, [0], [0], [0] * 2, [0]]), [1, 1, 0, 1, 0])

    def test_each_topic_keeps_its_reference_terms_count_and_class(self):
        heads = set(gen.head_terms(gen.base_texts()))
        for (qid, ref), (q, model, cls, terms) in zip(self.measured, self.lines):
            terms = terms.split(" ")
            self.assertEqual(q, f"wt{qid}")
            self.assertEqual(len(set(terms)), len(ref))
            self.assertEqual(cls, "head" if gen.is_head(ref) else "tail")
            self.assertEqual(sum(t in heads for t in terms),
                             sum(t in gen.STOPWORDS for t in ref))

    def test_terms_occur_in_the_corpus(self):
        import pyarrow.parquet as pq
        vocab = {w for t in pq.read_table(f"{self.dir}/corpus/docs")
                 .column("text").to_pylist() for w in t.split()}
        for *_, terms in self.lines:
            self.assertLessEqual(set(terms.split(" ")), vocab)


if __name__ == "__main__":
    unittest.main()
