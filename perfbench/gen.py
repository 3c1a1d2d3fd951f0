"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical NDJSON files. Alongside the files each generator returns
the bookkeeping the output checks compare against (per-table row counts,
column sets and non-null field counts for the flatten workloads; the ids
each batch must keep for the loop workloads).
"""
import json
import os
import random

# Workload sizes: documents per pass, or per-batch fresh documents plus
# the standing corpus and eval set of the loop workloads.
SIZES = {
    "flatten_nested": {"docs": 32000, "files": 8},
    "export_sqlite": {"docs": 12000, "files": 4},
    "pipeline_loop": {"corpus": 2000, "eval": 200, "batches": 2, "fresh": 600},
    "stream_pipeline": {"corpus": 3000, "eval": 200, "batches": 3, "fresh": 600},
}

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_SYLL = ["ka", "lo", "mi", "ner", "tas", "vel", "dor", "pri", "sun", "gal",
         "fe", "ro", "bin", "zu", "qua", "tem", "hy", "los", "mar", "cet"]


def vocabulary(rng, n=4000):
    """`n` distinct lowercase alphabetic words of 2-4 syllables."""
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def write_ndjson(path, docs):
    """Write documents one per line; returns the byte count written."""
    data = "".join(json.dumps(d, ensure_ascii=False, separators=(",", ":")) + "\n"
                   for d in docs).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# ---------------------------------------------------------------- flatten

class TableBook:
    """Expected flatten output, built by walking each generated document
    with the planner's naming rules: sub-objects promote into their
    parent as `a_b` columns, arrays of objects become child tables named
    by their key path, arrays of scalars stay in the parent as JSON text,
    and every child row links to each ancestor table through
    `_link_<ancestor>`."""

    def __init__(self, main="main"):
        self.main = main
        self.rows = {}    # table -> row count
        self.fields = {}  # table -> {field: non-null count}
        self.empty = {}   # (table, field, child table) -> empty-list count

    def _count(self, table, field):
        f = self.fields.setdefault(table, {})
        f[field] = f.get(field, 0) + 1

    def add(self, doc):
        self._row(self.main, [], doc)

    def _row(self, table, ancestors, obj):
        self.rows[table] = self.rows.get(table, 0) + 1
        self._count(table, "_link")
        for a in ancestors:
            self._count(table, "_link_" + a)
        self._fields(table, ancestors, [], obj)

    def _fields(self, table, ancestors, prefix, obj):
        for k, v in obj.items():
            path = prefix + [k]
            if isinstance(v, dict):
                self._fields(table, ancestors, path, v)
            elif isinstance(v, list) and (not v or isinstance(v[0], dict)):
                base = [] if table == self.main else [table]
                child = "_".join(base + path)
                for item in v:
                    self._row(child, ancestors + [table], item)
                if not v:
                    key = (table, "_".join(path), child)
                    self.empty[key] = self.empty.get(key, 0) + 1
            elif v is not None:
                self._count(table, "_".join(path))

    def expected(self):
        # an empty list is a child table's (no rows) when the same key
        # holds objects anywhere else; otherwise it is a JSON text column
        for (table, field, child), n in self.empty.items():
            if child not in self.rows:
                f = self.fields.setdefault(table, {})
                f[field] = f.get(field, 0) + n
        return {t: {"rows": self.rows[t], "fields": self.fields[t]}
                for t in self.rows}


def _text(rng, words, lo, hi):
    return " ".join(rng.choice(words) for _ in range(rng.randint(lo, hi)))


def _nested_doc(rng, words, i, file_no, n_files):
    late = file_no >= n_files // 2
    doc = {
        "id": i,
        "name": _text(rng, words, 2, 4).title(),
        # int in the first files, string later: inference widens to text
        "version": rng.randint(1, 50) if file_no < n_files - 3 else "v%d" % rng.randint(1, 50),
        "score": round(rng.uniform(0, 100), 3),
        "active": rng.random() < 0.5,
        "owner": {
            "name": _text(rng, words, 1, 2),
            "email": "%s@%s.org" % (rng.choice(words), rng.choice(words)),
            "address": {"city": rng.choice(words).title(),
                        "zip": "%05d" % rng.randint(0, 99999),
                        "geo": {"lat": round(rng.uniform(-90, 90), 5),
                                "lon": round(rng.uniform(-180, 180), 5)}},
        },
    }
    if rng.random() < 0.1:
        doc["owner"]["phone"] = "+1-%03d-%04d" % (rng.randint(0, 999), rng.randint(0, 9999))
    if rng.random() < 0.05:
        doc["promo_code"] = rng.choice(words).upper()
    if rng.random() < 0.03:
        # quotes, a comma and a newline: exercises CSV quoting
        doc["notes"] = 'said "%s", then\n%s' % (rng.choice(words), _text(rng, words, 3, 8))
    if file_no >= 3:
        doc["region"] = rng.choice(["north", "south", "east", "west", "zürich"])
    if late:
        doc["meta"] = {"source": rng.choice(words), "rev": rng.randint(1, 9)}
    if rng.random() < 0.6:
        doc["labels"] = [rng.choice(words) for _ in range(rng.randint(1, 3))]
    items = []
    for j in range(rng.randint(0, 4)):
        item = {"sku": "SKU-%d-%d" % (i, j), "qty": rng.randint(1, 9),
                "price": round(rng.uniform(1, 500), 2)}
        if rng.random() < 0.2:
            item["discount"] = round(rng.uniform(0, 0.5), 2)
        tags = [{"k": rng.choice(words), "v": rng.randint(0, 99)}
                for _ in range(rng.randint(0, 3))]
        if tags:
            item["tags"] = tags
        items.append(item)
    if items or rng.random() < 0.3:
        doc["items"] = items
    events = []
    for _ in range(rng.randint(0, 3)):
        ev = {"kind": rng.choice(["open", "close", "edit", "view"]),
              "ts": 1700000000 + rng.randint(0, 10 ** 7)}
        if rng.random() < 0.25:
            ev["note"] = _text(rng, words, 2, 6)
        events.append(ev)
    if events:
        doc["events"] = events
    return doc


def _wide_doc(rng, words, i):
    doc = {"id": i}
    for c in range(6):
        doc["n%d" % c] = rng.randint(0, 10 ** 6)
    for c in range(4):
        doc["x%d" % c] = round(rng.uniform(-1000, 1000), 4)
    for c in range(4):
        doc["s%d" % c] = rng.choice(words)
    doc["flag"] = rng.random() < 0.5
    doc["body"] = _text(rng, words, 30, 60)
    doc["summary"] = _text(rng, words, 10, 25)
    doc["lines"] = [{"n": j, "sku": "P%d" % rng.randint(0, 99999),
                     "amount": round(rng.uniform(0, 999), 2),
                     "memo": _text(rng, words, 3, 10)}
                    for j in range(rng.randint(1, 5))]
    return doc


def gen_flatten(kind, seed, out_dir, n_docs, n_files):
    """Write `n_files` NDJSON files of `n_docs` documents in total.
    Returns (paths, input bytes, expected tables)."""
    rng = random.Random("%s:%d" % (kind, seed))
    words = vocabulary(rng)
    book = TableBook()
    paths, total, i = [], 0, 0
    per = n_docs // n_files
    for f in range(n_files):
        docs = []
        for _ in range(per if f < n_files - 1 else n_docs - per * (n_files - 1)):
            d = (_nested_doc(rng, words, i, f, n_files) if kind == "flatten_nested"
                 else _wide_doc(rng, words, i))
            book.add(d)
            docs.append(d)
            i += 1
        p = os.path.join(out_dir, "part-%02d.ndjson" % f)
        total += write_ndjson(p, docs)
        paths.append(p)
    return paths, total, book.expected()


# ------------------------------------------------------------ text loops

def _clean_text(rng, words, lo=45, hi=80):
    """A document that passes the quality rules: alphabetic words with
    stopwords mixed in (three of them always, so the stopword rule can
    never reject a fresh document by chance)."""
    out = []
    for _ in range(rng.randint(lo, hi)):
        out.append(rng.choice(STOPWORDS) if rng.random() < 0.2 else rng.choice(words))
    out[1], out[4], out[7] = "the", "and", "with"
    return out


def _near(tokens, rng, words):
    """A near copy: one extra word at the end. Word 3-shingle Jaccard
    against the original stays above 0.95."""
    return tokens + [rng.choice(words)]


def _junk(rng):
    return " ".join(str(rng.randint(0, 999)) for _ in range(rng.randint(3, 8)))


def gen_text_loop(kind, seed, out_dir, corpus_n, eval_n, n_batches, fresh_n):
    """Standing corpus, eval set and `n_batches` daily batches.

    Returns (corpus/eval paths, batch paths, kept ids per batch, batch
    input bytes, batch documents). Each batch carries fresh documents
    (must be kept) and planted documents that must be dropped: exact copies of the corpus and of
    earlier batches' fresh documents, near copies of both, exact
    duplicates inside the batch, documents containing an eval 13-gram,
    and junk that fails the quality rules. Ids are unique; a planted
    duplicate always has a larger id than its original.
    """
    rng = random.Random("%s:%d" % (kind, seed))
    words = vocabulary(rng)
    corpus = [(i + 1, _clean_text(rng, words)) for i in range(corpus_n)]
    evals = [_clean_text(rng, words, 30, 40) for _ in range(eval_n)]
    files = {}
    files["corpus"] = os.path.join(out_dir, "corpus.ndjson")
    write_ndjson(files["corpus"], [{"doc_id": i, "text": " ".join(t)} for i, t in corpus])
    files["eval"] = os.path.join(out_dir, "eval.ndjson")
    write_ndjson(files["eval"], [{"text": " ".join(t)} for t in evals])

    def batch(b, n_fresh, earlier):
        base = (b + 1) * 10 ** 7
        fresh = [(base + j, _clean_text(rng, words)) for j in range(n_fresh)]
        docs = [(i, " ".join(t)) for i, t in fresh]
        nid = base + 5 * 10 ** 6
        q = max(1, n_fresh // 12)
        planted = []
        for _ in range(q):
            planted.append(" ".join(rng.choice(corpus)[1]))
            planted.append(" ".join(_near(rng.choice(corpus)[1], rng, words)))
            planted.append(" ".join(rng.choice(fresh)[1]))
            planted.append(_junk(rng))
            t = _clean_text(rng, words, 20, 30)
            e = rng.choice(evals)
            s = rng.randint(0, len(e) - 20)
            planted.append(" ".join(t[:10] + e[s:s + 20] + t[10:]))
            if earlier:
                planted.append(" ".join(rng.choice(earlier)[1]))
                planted.append(" ".join(_near(rng.choice(earlier)[1], rng, words)))
        for t in planted:
            docs.append((nid, t))
            nid += 1
        rng.shuffle(docs)
        return fresh, docs

    paths, keep, in_bytes, n_docs, earlier = [], [], 0, 0, []
    for b in range(n_batches):
        fresh, docs = batch(b, fresh_n, earlier)
        earlier = earlier + fresh
        p = os.path.join(out_dir, "batch-%02d.ndjson" % b)
        in_bytes += write_ndjson(p, [{"doc_id": i, "text": t} for i, t in docs])
        paths.append(p)
        keep.append(sorted(i for i, _ in fresh))
        n_docs += len(docs)
    return files, paths, keep, in_bytes, n_docs
