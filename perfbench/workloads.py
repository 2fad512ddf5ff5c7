"""The benchmark's workloads and their output checks.

A workload generates its inputs from the seed when it is constructed,
with no Spark session; `setup` builds what its ops need (timed as part
of `setup_s`); `prepare(i)` stages op i's input outside the timed
region; `op(i, staged)` is the timed call into kgspark's public API;
`verify(i, out)` compares the op's output with an answer computed
independently on the driver and returns the list of mismatches.
"""

from __future__ import annotations

import random
import time
from collections import Counter, defaultdict

from kgspark import TOP_K, fixtures, oracle, pipeline, query, stages, textops

from . import gen

SENT_SCALE = 10  # 6-12 KB of text per fixture page
WARMUP_PAGES = 8
KHOP_DEPTH = 2
RELATED_LIMIT = 50  # related_entities' default row limit


def _ingest_materialize(frames: dict) -> dict:
    """Force the five tables of an in-memory build, as a batch consumer
    would: the graph is collected, the rest written to a no-op sink."""
    out = {
        "triples": {
            (r.subj, r.pred, r.obj)
            for r in frames["kg_edges"].select("subj", "pred", "obj").collect()
        },
        "nodes": {r.canonical_id for r in frames["kg_nodes"].select("canonical_id").collect()},
        "chunks": frames["chunks"].count(),
    }
    for table in ("embeddings", "inverted_index"):
        frames[table].write.format("noop").mode("overwrite").save()
    return out


class IngestHeavy:
    """`pipeline.build_kg_frames(link_mode="exact", cache=True)` over
    fresh heavy fixture pages per op, then materialization of kg_nodes,
    kg_edges, chunks, embeddings and inverted_index."""

    name = "ingest_heavy"
    min_ops = 3  # an untraced run's median never rests on one or two ops
    round_ops = 1

    def __init__(self, seed: int, pages_per_op: int = 100):
        self.seed = seed
        self.pages_per_op = pages_per_op
        self.spark = None
        self.pr: list[tuple[float, float]] = []
        self._recorded: set[int] = set()
        self._names: set[str] = set()
        self._props = Counter()
        self._hot = Counter()

    def _seed(self, i: int) -> int:
        return self.seed * 1000 + i + 1  # i = -1 is the warm-up pass

    def _pages(self, i: int) -> int:
        return WARMUP_PAGES if i < 0 else self.pages_per_op

    def setup(self, spark, work: str) -> None:
        """A small warm-up build: the first build of a session pays the
        Python workers' boot and the first JIT, once per session."""
        self.spark = spark
        staged = self.prepare(-1)
        try:
            self.op(-1, staged)
        finally:
            self.release(staged)

    def prepare(self, i: int):
        pages = fixtures.pages_df(
            self.spark, self._pages(i), seed=self._seed(i), sent_scale=SENT_SCALE
        ).persist()
        pages.count()
        return pages

    def release(self, staged) -> None:
        staged.unpersist()

    def op(self, i: int, pages) -> dict:
        frames = pipeline.build_kg_frames(self.spark, pages, link_mode="exact", cache=True)
        try:
            return _ingest_materialize(frames)
        finally:
            for df in frames.values():
                if df.is_cached:
                    df.unpersist()

    def page_dicts(self, i: int) -> list[dict]:
        return fixtures.make_pages(self._pages(i), seed=self._seed(i), sent_scale=SENT_SCALE)

    def verify(self, i: int, out: dict) -> list[str]:
        pages = self.page_dicts(i)
        want = oracle.build_kg(pages)
        p, r = oracle.precision_recall(out["triples"], want["triples"])
        self.pr.append((p, r))
        errors = []
        if (p, r) != (1.0, 1.0):
            errors.append(f"op {i}: triple P/R {p:.4f}/{r:.4f}")
        if out["chunks"] != len(want["chunks"]):
            errors.append(f"op {i}: {out['chunks']} chunks, oracle {len(want['chunks'])}")
        if out["nodes"] != set(want["nodes"]):
            errors.append(f"op {i}: node set differs from the oracle")
        if i >= 0 and i not in self._recorded:
            self._recorded.add(i)
            self._record(pages, want)
        return errors

    def _record(self, pages: list[dict], want: dict) -> None:
        p = self._props
        p["pages"] += len(pages)
        p["text_bytes"] += sum(len(pg["text"].encode()) for pg in pages)
        p["chunks"] += len(want["chunks"])
        p["triples"] += len(want["triples"])
        self._names |= set(want["nodes"])
        url_of = {c["chunk_id"]: c["url"] for c in want["chunks"]}
        pages_of = defaultdict(set)
        for cid, name in want["mentions"]:
            pages_of[name].add(url_of[cid])
        for name, urls in pages_of.items():
            self._hot[name] += len(urls)

    def props(self) -> dict:
        hot, n = self._hot.most_common(1)[0] if self._hot else ("", 0)
        pages = self._props["pages"]
        return {
            **self._props,
            "pages_per_op": self.pages_per_op,
            "distinct_names": len(self._names),
            "names_merged_share": 0.0,  # exact linking merges nothing
            "hot_entity": hot,
            "hot_entity_page_share": n / pages if pages else 0.0,
        }

    def load_reference(self) -> None:
        """Oracle answers are computed per op, in `verify`."""

    def docs_per_s(self, op_walls: list[float]) -> float:
        return self.pages_per_op * len(op_walls) / sum(op_walls) if op_walls else 0.0

    def quality(self) -> dict:
        return {
            "triple_precision": min((p for p, _ in self.pr), default=0.0),
            "triple_recall": min((r for _, r in self.pr), default=0.0),
        }

    def kernel_pages(self, ops: list[int]) -> list[dict]:
        """The pages the traced S1-S4 spans processed: warm-up and ops."""
        return [pg for i in [-1, *ops] for pg in self.page_dicts(i)]


class QueryMix:
    """Closed loop, one client, over a warehouse built by
    `Pipeline(link_mode="lsh").run` from the large-vocabulary generator.
    Ops alternate between a hybrid `graphrag_search` (even ops) and a
    `related_entities(max_depth=2)` (odd ops), each over tables read
    through `TableIO.read_accumulated` as `kgctl search` reads them."""

    name = "query_mix"
    # ops take half the time of an ingest op and are noisier: three of
    # each kind per untraced run, and a run ends after a k-hop so it
    # holds as many of each
    min_ops = 6
    round_ops = 2

    def __init__(self, seed: int, base_pages: int = 200, vocab_size: int = 2000):
        self.seed = seed
        self.vocab = gen.Vocabulary(seed, vocab_size)
        self.pages = gen.make_pages(self.vocab, base_pages, seed)
        self.spark = None
        self.io = None
        self.run_s = 0.0

    def setup(self, spark, work: str) -> None:
        self.spark = spark
        pipe = pipeline.Pipeline(f"{work}/warehouse", link_mode="lsh")
        self.io = pipe.io
        t0 = time.perf_counter()
        pipe.run(spark, gen.pages_frame(spark, self.pages), f"kgbench:{self.seed}")
        self.run_s = time.perf_counter() - t0
        # warm-up pass: the first search and k-hop of a session pay
        # cold-start costs
        self._search("warmup " + self.vocab.names[0].lower())
        self._khop(self.vocab.names[0])

    # -- the op -------------------------------------------------------------
    def _rd(self, table: str):
        return self.io.read_accumulated(self.spark, table)

    def _search(self, text: str):
        out = query.graphrag_search(
            self._rd("chunks"), self._rd("embeddings"),
            stages.mentions_of(self._rd("extracted")), text,
            inverted_index=self._rd("inverted_index"), kg_nodes=self._rd("kg_nodes"),
        )
        hits = [(r.chunk_id, r.combined_score) for r in out["hits"].collect()]
        return hits, [r.name for r in out["entities"].collect()]

    def _khop(self, entity: str):
        rows = query.related_entities(
            self._rd("kg_edges"), entity, max_depth=KHOP_DEPTH, kg_nodes=self._rd("kg_nodes")
        ).collect()
        return [(r.name, r.rel_types, r.hops) for r in rows]

    def prepare(self, i: int):
        """The query text and k-hop entity of op i's pair (ops 2j and
        2j+1), drawn Zipf from the vocabulary. Draws are stratified: even
        pairs draw from the hot half of the probability mass and odd
        pairs from the tail half, so every run sees both the hot entity's
        large frontier and tail ones."""
        pair = i // 2
        tail = pair % 2 == 1
        rng = random.Random(f"query:{self.seed}:{pair}")
        name = self.vocab.draw_half(rng, tail)
        text = f"{name.lower()} {rng.choice(gen.FILLER)}"
        # a k-hop seed with at least one edge, so the op expands a frontier
        for _ in range(1000):
            entity = self.canonical.get(self.vocab.draw_half(rng, tail))
            if entity in self.adj:
                return text, entity
        return text, max(self.adj, key=lambda n: len(self.adj[n]))

    def release(self, staged) -> None:
        pass

    def op(self, i: int, staged) -> dict:
        text, entity = staged
        t0 = time.perf_counter()
        if i % 2 == 0:
            hits, entities = self._search(text)
            out = {"hits": hits, "entities": entities}
        else:
            out = {"related": self._khop(entity)}
        out["timings"] = {"khop" if i % 2 else "search": time.perf_counter() - t0}
        return out

    # -- driver-side answers ------------------------------------------------
    def load_reference(self) -> None:
        """Collect the committed tables once; every op is then checked
        against a recomputation on the driver."""
        import numpy as np  # noqa: PLC0415

        emb = self._rd("embeddings").select("chunk_id", "embedding").collect()
        self.chunk_ids = [r.chunk_id for r in emb]
        self.emb = np.array([r.embedding for r in emb], dtype=np.float64)
        self.tf = defaultdict(dict)  # term -> {chunk_id: tf}
        for r in self._rd("inverted_index").collect():
            self.tf[r.term][r.chunk_id] = r.tf
        self.mentions = defaultdict(set)
        for r in stages.mentions_of(self._rd("extracted")).select("chunk_id", "name").collect():
            self.mentions[r.chunk_id].add(r.name)
        self.adj = defaultdict(set)
        for r in self._rd("kg_edges").select("subj", "pred", "obj").collect():
            self.adj[r.subj].add((r.obj, r.pred))
            self.adj[r.obj].add((r.subj, r.pred))
        self.node_ids = {r.canonical_id for r in self._rd("kg_nodes").select("canonical_id").collect()}
        self.canonical = {
            r.name: r.canonical_id for r in self._rd("canonical").collect()
        }
        self.n_chunks = len(self.chunk_ids)

    def expected_hits(self, text: str) -> list[tuple[str, float]]:
        """Hybrid retrieval recomputed with numpy and dicts, in the same
        arithmetic order as the Spark expressions (so scores match to
        the bit): cosine top-2k and term-frequency top-2k, fused as
        0.7 * (1 + cos) / 2 + 0.3 * min(tf / 10, 1)."""
        import numpy as np  # noqa: PLC0415

        qvec = textops.embed_text(text, self.emb.shape[1])
        dot = np.zeros(len(self.chunk_ids))
        sq = np.zeros(len(self.chunk_ids))
        for d, q in enumerate(qvec):  # left-to-right, like F.aggregate
            dot += self.emb[:, d] * q
            sq += self.emb[:, d] * self.emb[:, d]
        norm_q = float(sum(x * x for x in qvec) ** 0.5) or 1.0
        norm_v = np.sqrt(sq)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(norm_v > 0, dot / (norm_v * norm_q), 0.0)
        k2 = TOP_K * 2
        vec = sorted(zip(self.chunk_ids, cos.tolist()), key=lambda t: (-t[1], t[0]))[:k2]
        kw_score: dict[str, float] = defaultdict(float)
        for term in query.query_terms(text):
            for cid, tf in self.tf.get(term, {}).items():
                kw_score[cid] += tf
        kw = sorted(kw_score.items(), key=lambda t: (-t[1], t[0]))[:k2]
        fused: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
        for cid, s in vec:
            fused[cid][0] = max(0.0, min(1.0, (1.0 + s) / 2.0))
        for cid, s in kw:
            fused[cid][1] = max(0.0, min(1.0, s / 10.0))
        combined = [(cid, v * 0.7 + k * 0.3) for cid, (v, k) in fused.items()]
        return sorted(combined, key=lambda t: (-t[1], t[0]))[:TOP_K]

    def expected_related(self, entity: str):
        """BFS over the undirected edges; per entity the shortest path
        with the lexicographically smallest predicate sequence."""
        seen = {entity}
        frontier = {entity: []}
        reached = {}
        for _ in range(KHOP_DEPTH):
            nxt: dict[str, list[str]] = {}
            for a, path in frontier.items():
                for b, pred in self.adj.get(a, ()):
                    if b in seen:
                        continue
                    cand = path + [pred]
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
            if not nxt:
                break
            seen.update(nxt)
            reached.update(nxt)
            frontier = nxt
        rows = sorted((b, ",".join(p), len(p)) for b, p in reached.items())
        return rows[:RELATED_LIMIT]

    def verify(self, i: int, out: dict) -> list[str]:
        text, entity = self.prepare(i)
        if i % 2:
            if out["related"] != self.expected_related(entity):
                return [f"op {i}: related entities of {entity!r} differ"]
            return []
        errors = []
        want_hits = self.expected_hits(text)
        if out["hits"] != want_hits:
            errors.append(f"op {i}: hits for {text!r} differ: {out['hits']} vs {want_hits}")
        want_ents = sorted({n for cid, _ in want_hits for n in self.mentions.get(cid, ())})[:100]
        if out["entities"] != want_ents:
            errors.append(f"op {i}: search entities for {text!r} differ")
        return errors

    def props(self) -> dict:
        comp = Counter(self.canonical.values())
        merged = sum(1 for c in self.canonical.values() if comp[c] > 1)
        # alias pairs both of whose names occur in the corpus
        pairs = [
            (a, b) for a, b in self.vocab.alias_of.items()
            if a in self.canonical and b in self.canonical
        ]
        alias_merged = sum(1 for a, b in pairs if self.canonical[a] == self.canonical[b])
        hot = max(self.adj, key=lambda n: len(self.adj[n])) if self.adj else ""
        hot_pages = sum(1 for pg in self.pages if hot in pg["text"])
        return {
            "pages": len(self.pages),
            "text_bytes": sum(len(pg["text"].encode()) for pg in self.pages),
            "chunks": self.n_chunks,
            "distinct_names": len(self.canonical),
            "names_merged_share": merged / max(len(self.canonical), 1),
            "alias_pairs_seen": len(pairs),
            "alias_pairs_merged": alias_merged,
            "kg_nodes": len(self.node_ids),
            "hot_entity": hot,
            "hot_entity_page_share": hot_pages / len(self.pages),
            "hot_entity_degree": len(self.adj.get(hot, ())),
            "vocabulary": len(self.vocab.names),
        }

    def docs_per_s(self, op_walls: list[float]) -> float:
        """Pages per second of the checkpointed base build in set-up."""
        return len(self.pages) / self.run_s

    def quality(self) -> dict:
        return {}

    def kernel_pages(self, ops: list[int]) -> list[dict]:
        return self.pages


WORKLOADS = {w.name: w for w in (IngestHeavy, QueryMix)}
