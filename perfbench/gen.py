"""Seeded input generators for the end-to-end benchmark.

Everything here runs in one process. numpy draws every random choice from
one seeded generator, so a seed always gives byte-identical inputs; pyarrow
and duckdb are capped at `threads` threads.

Two families:

* a knowledge-graph pair for the `Experiment` workload, written as a raw
  OAEI directory (N-Triples + Alignment XML);
* a document corpus plus a benchmark set for the `Curate` workload,
  written whole and cut into wave files in `doc_id` order.

Each writer returns the input properties recorded with the results, and the
independent expectations the output checks compare against: DuckDB counts for
the KG pair, and a per-document expected verdict for the corpus.
"""

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Verbatim from graft.functions.Text.Stopwords and TextAnalysis.Lexicons:
# generated vocabulary avoids them, and the corpus uses them on purpose.
STOPWORDS = ["a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
             "he", "in", "is", "it", "its", "of", "on", "or", "that", "the", "to",
             "was", "were", "will", "with"]
LEXICONS = {
    "de": ["der", "die", "das", "und", "mit", "von", "ist"],
    "en": ["the", "and", "for", "with", "from", "that", "this"],
    "es": ["los", "las", "con", "para", "por", "una", "del"],
    "fr": ["les", "des", "est", "avec", "dans", "une", "sur"],
}
EN_FILLER = ["the", "and", "for", "with", "from", "that", "is", "of", "to", "in"]

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
_RESERVED = set(STOPWORDS) | {w for ws in LEXICONS.values() for w in ws}


def words(start, count):
    """`count` distinct lowercase words, three syllables each, for the
    integer range [start, start + count). Disjoint ranges give disjoint
    vocabularies, and no word is a stopword or a language-lexicon word."""
    base = len(_SYLLABLES)
    out = []
    for i in range(start, start + count):
        w = _SYLLABLES[i // (base * base) % base] + _SYLLABLES[i // base % base] + _SYLLABLES[i % base]
        assert w not in _RESERVED
        out.append(w)
    return np.array(out, dtype=object)


def capped_zipf(size, exponent, cap):
    """Zipf probabilities over `size` ranks with no rank above `cap`: the
    cap bounds the hottest block on purpose (an uncapped Zipf puts one
    token into nearly every entity)."""
    p = 1.0 / np.arange(1, size + 1) ** exponent
    p /= p.sum()
    for _ in range(50):
        over = p > cap
        if not over.any():
            break
        spare = (p[over] - cap).sum()
        p[over] = cap
        p[~over] += spare * p[~over] / p[~over].sum()
    return p


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


# ---------------------------------------------------------------------------
# Knowledge-graph pair
# ---------------------------------------------------------------------------

def kg_pair(seed, n, matched_share=0.8, hard_share=0.04, common_vocab=2000,
            common_per_entity=3, common_cap=0.004):
    """Two entity sides of `n` entities each.

    Every entity has a `name` of two rare tokens and `tags` of
    `common_per_entity` tokens drawn from a capped Zipf vocabulary. A
    matched right entity copies its left partner's name, except that a
    tenth of the pairs change one name token and `hard_share` of them get
    a wholly new name (those are found only through a shared tag, if at
    all). Each entity also links to one random entity of its own side."""
    rng = np.random.default_rng(seed)
    rare = words(0, 4 * n)
    common = words(4 * n, common_vocab)
    p = capped_zipf(common_vocab, 1.1, common_cap)

    def side(count):
        names = rng.integers(0, len(rare), size=(count, 2))
        tags = rng.choice(common_vocab, size=(count, common_per_entity), p=p)
        return names, tags

    lnames, ltags = side(n)
    rnames, rtags = side(n)
    m = int(round(matched_share * n))
    right_of = rng.permutation(n)[:m]  # left i < m matches right right_of[i]
    kind = rng.permutation(m)
    hard = kind[: int(round(hard_share * m))]
    one_changed = kind[len(hard): len(hard) + int(round(0.1 * m))]
    rnames[right_of] = lnames[:m]
    rnames[right_of[one_changed], 1] = rng.integers(0, len(rare), size=len(one_changed))
    rnames[right_of[hard]] = rng.integers(0, len(rare), size=(len(hard), 2))

    def texts(names, tags):
        name = [rare[a] + " " + rare[b] for a, b in names]
        tag = [" ".join(common[t] for t in row) for row in tags]
        return name, tag

    ln, lt = texts(lnames, ltags)
    rn, rt = texts(rnames, rtags)
    links_l = rng.integers(0, n, size=n)
    links_r = rng.integers(0, n, size=n)
    gold = [(i, int(right_of[i])) for i in range(m)]
    return {"left": (ln, lt, links_l), "right": (rn, rt, links_r), "gold": gold, "n": n}


def _kg_expect(kg, threads):
    """Candidate pairs, true positives and block skew of token blocking
    over the pair, counted by DuckDB with the tokenizer shape of
    QueryDef.duckTokens (lowercase, split on non-alphanumerics, length at
    least 3, no stopwords)."""
    con = _connect(threads)
    for s in ("left", "right"):
        name, tag, _ = kg[s]
        con.register(f"{s}_raw", pa.table({
            "id": np.arange(kg["n"], dtype=np.int64),
            "text": [a + " " + b for a, b in zip(name, tag)]}))
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    for s in ("left", "right"):
        con.execute(f"""CREATE TABLE {s}_tok AS SELECT DISTINCT id, tok AS key FROM (
            SELECT id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
            FROM {s}_raw) WHERE length(tok) >= 3 AND tok NOT IN ({stop})""")
    con.register("gold", pa.table({
        "l": np.array([g[0] for g in kg["gold"]], dtype=np.int64),
        "r": np.array([g[1] for g in kg["gold"]], dtype=np.int64)}))
    con.execute("""CREATE TABLE cand AS SELECT DISTINCT l.id AS l, r.id AS r
                   FROM left_tok l JOIN right_tok r USING (key)""")
    pairs = con.execute("SELECT count(*) FROM cand").fetchone()[0]
    tp = con.execute("SELECT count(*) FROM cand JOIN gold USING (l, r)").fetchone()[0]
    blocks, total_block_pairs, max_block_pairs = con.execute("""
        SELECT count(*), sum(nl * nr), max(nl * nr) FROM (
          SELECT key, count(*) AS nl FROM left_tok GROUP BY key) a
        JOIN (SELECT key, count(*) AS nr FROM right_tok GROUP BY key) b USING (key)""").fetchone()
    con.close()
    return {"pairs": int(pairs), "tp": int(tp), "blocks": int(blocks),
            "block_pairs": int(total_block_pairs), "max_block_pairs": int(max_block_pairs)}


def write_oaei(kg, out, threads):
    """Raw OAEI pair: `source.nt`, `target.nt` and `reference.xml`."""
    os.makedirs(out, exist_ok=True)
    prefix = {"left": "http://source.example.org/e", "right": "http://target.example.org/e"}
    fname = {"left": "source.nt", "right": "target.nt"}
    for s in ("left", "right"):
        name, tag, links = kg[s]
        pre = prefix[s]
        with open(os.path.join(out, fname[s]), "w") as f:
            for i in range(kg["n"]):
                f.write(f'<{pre}{i}> <http://schema.example.org/name> "{name[i]}"@en .\n'
                        f'<{pre}{i}> <http://schema.example.org/tags> "{tag[i]}" .\n'
                        f'<{pre}{i}> <http://schema.example.org/linked> <{pre}{links[i]}> .\n')
    with open(os.path.join(out, "reference.xml"), "w") as f:
        f.write('<?xml version="1.0" encoding="utf-8"?>\n'
                '<rdf:RDF xmlns="http://knowledgeweb.semanticweb.org/heterogeneity/alignment" '
                'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n<Alignment>\n')
        for li, ri in kg["gold"]:
            f.write(f'<map><Cell><entity1 rdf:resource="{prefix["left"]}{li}"/>'
                    f'<entity2 rdf:resource="{prefix["right"]}{ri}"/>'
                    '<relation>=</relation><measure>1.0</measure></Cell></map>\n')
        f.write("</Alignment>\n</rdf:RDF>\n")
    return _kg_properties(kg, out, threads)


def _kg_properties(kg, out, threads):
    e = _kg_expect(kg, threads)
    return {
        "entities_per_side": kg["n"],
        "gold_pairs": len(kg["gold"]),
        "token_candidate_pairs": e["pairs"],
        "token_true_positives": e["tp"],
        "token_blocks": e["blocks"],
        "hottest_block_pairs": e["max_block_pairs"],
        "hottest_block_share": round(e["max_block_pairs"] / e["pairs"], 6),
        "input_bytes": _du(out),
    }


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------

def corpus(seed, n_docs, n_bench=300, contam_n=8, non_en_share=0.15, dup_share=0.10,
           contam_share=0.02, short_share=0.03, sources=7, vocab=6000):
    """`n_docs` documents with power-law vocabulary and their expected
    verdicts under Curation's stage order (lang, quality, duplicate,
    contaminated):

    * `non_en_share` use another language's function words and no English
      ones (dropped at `lang`);
    * `short_share` are English but shorter than 20 words (`quality`);
    * `dup_share` reshuffle the tokens of an earlier clean document, so the
      distinct token set is identical (`duplicate`, `dup_of` the original);
    * `contam_share` carry a spliced `contam_n`-gram of a benchmark
      document (`contaminated`);
    * the rest are kept.

    Benchmark documents draw from a vocabulary of their own, so only the
    spliced n-grams can match."""
    rng = np.random.default_rng(seed)
    vocab_words = words(0, vocab)
    bench_words = words(vocab, 2000)
    p = capped_zipf(vocab, 1.0, 0.02)

    bench = [" ".join(rng.choice(bench_words, size=30)) for _ in range(n_bench)]

    def body(count, filler):
        # the first two fillers are fixed so that every document carries a
        # function word of its language (langId) and a stopword (quality)
        toks = list(rng.choice(vocab_words, size=count, p=p))
        k = max(2, int(round(count * 0.25)))
        fill = list(filler[:2]) + list(rng.choice(filler, size=k - 2))
        for pos, w in zip(rng.integers(0, count, size=k), fill):
            toks.insert(int(pos), w)
        return toks

    # exact shares, so that the removed share is the same for every seed
    counts = {k: int(round(share * n_docs)) for k, share in
              (("non_en", non_en_share), ("short", short_share), ("dup", dup_share),
               ("contam", contam_share))}
    kind = np.array(["keep"] * (n_docs - sum(counts.values())) +
                    [k for k, c in counts.items() for _ in range(c)])
    kind = kind[rng.permutation(n_docs)]
    first_keep = int(np.argmax(kind == "keep"))  # the first document must be a possible original
    kind[0], kind[first_keep] = kind[first_keep], kind[0]
    ids = [f"d{i:07d}" for i in range(n_docs)]
    texts, stage, dup_of = [], [], []
    clean = []  # indices of kept documents, originals for duplicates
    for i in range(n_docs):
        k = kind[i]
        if k == "non_en":
            lang = ("de", "es", "fr")[int(rng.integers(0, 3))]
            toks, st, d = body(int(rng.integers(20, 50)), LEXICONS[lang]), "lang", None
        elif k == "short":
            toks, st, d = body(int(rng.integers(8, 14)), EN_FILLER), "quality", None
        elif k == "dup":
            o = clean[int(rng.integers(0, len(clean)))]
            toks = texts[o].split(" ")
            toks = [toks[j] for j in rng.permutation(len(toks))]
            st, d = "duplicate", ids[o]
        else:
            toks = body(int(rng.integers(20, 50)), EN_FILLER)
            st, d = None, None
            if k == "contam":
                src = bench[int(rng.integers(0, n_bench))].split(" ")
                at = int(rng.integers(0, len(src) - contam_n + 1))
                pos = int(rng.integers(0, len(toks) + 1))
                toks[pos:pos] = src[at: at + contam_n]
                st = "contaminated"
            else:
                clean.append(i)
        texts.append(" ".join(toks))
        stage.append(st)
        dup_of.append(d)
    srcs = [f"source{int(s)}" for s in rng.integers(0, sources, size=n_docs)]
    docs = pa.table({"doc_id": ids, "text": texts, "source": srcs})
    expect = pa.table({"id": ids, "drop_stage": stage, "dup_of": dup_of})
    shares = {k: round(float((kind == k).mean()), 6) for k in ("non_en", "short", "dup", "contam")}
    props = {"documents": n_docs, "benchmark_documents": n_bench,
             "non_en_share": shares["non_en"], "dup_share": shares["dup"],
             "contaminated_share": shares["contam"], "short_share": shares["short"],
             "sources": sources,
             "mean_words": round(float(np.mean([t.count(" ") + 1 for t in texts])), 3)}
    return docs, pa.table({"doc_id": [f"b{i:05d}" for i in range(n_bench)], "text": bench}), expect, props


def write_corpus(docs, bench, expect, props, out, waves):
    """Corpus, benchmark set and expected verdicts as parquet, and the
    corpus cut into `waves` files in `doc_id` order."""
    os.makedirs(out, exist_ok=True)
    _write(docs, os.path.join(out, "corpus.parquet"))
    _write(bench, os.path.join(out, "bench.parquet"))
    _write(expect, os.path.join(out, "expect.parquet"))
    wdir = os.path.join(out, "waves")
    os.makedirs(wdir, exist_ok=True)
    cuts = np.linspace(0, docs.num_rows, waves + 1).astype(int)
    for w in range(waves):
        _write(docs.slice(cuts[w], cuts[w + 1] - cuts[w]),
               os.path.join(wdir, f"wave-{w:03d}.parquet"))
    return dict(props, waves=waves, input_bytes=_du(os.path.join(out, "corpus.parquet")))


def _du(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
