"""Input generators: the same seed gives byte-identical inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class SameSeedSameBytes(unittest.TestCase):
    def run_gen(self, kind, seed):
        with tempfile.TemporaryDirectory() as d:
            if kind in ("flatten_nested", "export_sqlite"):
                _, _, book = gen.gen_flatten(kind, seed, d, 600, 4)
            else:
                _, _, book, _, _ = gen.gen_text_loop(kind, seed, d, 300, 20, 2, 60)
            return digest(d), book

    def test_every_workload(self):
        for kind in ("flatten_nested", "export_sqlite", "pipeline_loop", "stream_pipeline"):
            with self.subTest(kind=kind):
                a, book_a = self.run_gen(kind, 7)
                b, book_b = self.run_gen(kind, 7)
                c, _ = self.run_gen(kind, 8)
                self.assertEqual(a, b)
                self.assertEqual(book_a, book_b)
                self.assertNotEqual(a, c)


class Bookkeeping(unittest.TestCase):
    def test_table_book_follows_the_flatten_rules(self):
        book = gen.TableBook()
        book.add({"id": 1, "o": {"a": 1, "b": {"c": 2}}, "tags": ["x"],
                  "items": [{"k": 1, "sub": [{"v": 1}, {"v": 2}]}], "ev": []})
        book.add({"id": 2, "items": []})
        exp = book.expected()
        self.assertEqual(exp["main"]["rows"], 2)
        self.assertEqual(exp["main"]["fields"],
                         {"_link": 2, "id": 2, "o_a": 1, "o_b_c": 1, "tags": 1, "ev": 1})
        self.assertEqual(exp["items"], {"rows": 1, "fields": {"_link": 1, "_link_main": 1, "k": 1}})
        self.assertEqual(exp["items_sub"]["fields"],
                         {"_link": 2, "_link_main": 2, "_link_items": 2, "v": 2})

    def test_loop_batches_keep_only_fresh_ids(self):
        with tempfile.TemporaryDirectory() as d:
            _, paths, keep, _, n_docs = gen.gen_text_loop("pipeline_loop", 3, d, 200, 10, 2, 48)
            self.assertEqual([len(k) for k in keep], [48, 48])
            self.assertGreater(n_docs, 96)
            self.assertEqual(len(paths), 2)


if __name__ == "__main__":
    unittest.main()
