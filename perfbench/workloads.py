"""The workloads. Each one generates its inputs from the seed, builds
its warm state (``setup``), runs its timed body through the runner, and
checks every recorded output afterwards.

A workload object exposes:

- ``inputs()``: write the generated parquet (not timed, not in set-up);
- ``setup(rn)``: the warm state, timed as set-up;
- ``body(rn)``: the timed ops;
- ``check(rn)``: raise :class:`checks.CheckFailed` on a wrong output;
- ``headline``: the op kind behind ``latency_p50_s``;
- ``throughput(rn)``, ``recall(rn)``: the workload's readings of the
  shared end-to-end metrics.
"""

from __future__ import annotations

import os

import numpy as np

import checks
import gen

K = 10
BATCH_QUERIES = 64

SCALES = {
    "full": {"serve_docs": 2_000, "upsert_docs": 100, "curate_docs": 300, "curate_vecs": 120},
    "tiny": {"serve_docs": 600, "upsert_docs": 20, "curate_docs": 120, "curate_vecs": 60},
}

EN = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}


def _cat_filter(cat: str) -> dict:
    return {"must": [{"type": "equals", "field": "cat", "value": cat}]}


def _hits(table, id_col: str = "vec_id") -> list[tuple[int, float]]:
    ids = table.column(id_col).to_pylist()
    return list(zip(ids, table.column("score").to_pylist()))


def _id_col(table) -> str:
    return "vec_id" if "vec_id" in table.column_names else "doc_id"


class Serve:
    """Read-only request mix over a warm store. The store is built through
    the write path during set-up: a bulk load, an upsert, the payload,
    text and IVF indexes, then a predicate delete; each write is followed
    by a read-your-writes check and a search. The timed requests
    are sub-second, so the facade, the planner and Catalyst carry most of
    their time; executor kernels barely matter."""

    name = "serve"
    headline = "search"
    # one cycle of the closed loop; its order is shuffled per seed
    CYCLE = ["search"] * 16 + ["filtered_search"] * 4 + ["hybrid_search", "ivf_search", "batch_search"]
    setup_reps = 1

    def __init__(self, work: str, seed: int, scale: dict):
        self.work = work
        self.n = scale["serve_docs"]
        self.upsert_docs = scale["upsert_docs"]
        self.rng = np.random.default_rng(seed)

    def inputs(self) -> int:
        self.loaded = gen.make_corpus(self.rng, self.n)
        self.bulk_docs, self.bulk_emb, size = self.loaded.write(self.work, "bulk")
        self.writes, nbytes = gen.make_writes(self.rng, self.loaded, self.work, self.upsert_docs)
        c = self.corpus = self.writes[-1].after
        self.allowed = {
            "en": set(c.ids[c.langs == "en"].tolist()),
            **{cat: set(c.ids[c.cats == cat].tolist()) for cat in np.unique(c.cats)},
        }
        return size + nbytes

    def setup(self, rn) -> None:
        from grape_vector_db_spark.db import GrapeVectorDB

        spark = rn.spark
        self.db = db = GrapeVectorDB(spark, f"{self.work}/store")
        upsert, delete = self.writes
        rn.op("setup.add_documents", lambda: db.add_documents(
            spark.read.parquet(self.bulk_docs), spark.read.parquet(self.bulk_emb)), result=self._state)
        # the upsert lands before the indexes exist and the delete after,
        # so the delete cascades through every index; an upsert against
        # the indexed store costs twice as much and the run budget holds
        # only one indexed write
        self.write(rn, upsert)
        rn.op("setup.build_index.payload", lambda: db.build_index("payload", columns=["lang", "cat"]))
        rn.op("setup.build_index.text", lambda: db.build_index("text"))
        rn.op("setup.build_index.ivf", lambda: db.build_index("ivf"))
        self.write(rn, delete)
        # latency keeps falling over the first few dozen calls (JIT and
        # plan-cache warm-up) that users of a warm store have long paid, so
        # the cheap requests of one cycle run first; batch_search's first
        # call is no slower than its later ones
        for kind in self.CYCLE:
            if kind != "batch_search":
                self.request(rn, kind, prefix="setup.warm.")

    def _state(self) -> tuple[list[str], list[tuple]]:
        """The documents table as (columns, rows): the result of a write."""
        return checks.table_rows(self.db.documents().select("doc_id", "text").toArrow())

    def write(self, rn, m: gen.Mutation) -> None:
        spark, db = rn.spark, self.db
        if m.kind == "upsert":
            rn.op("setup.upsert", lambda: db.add_documents(
                spark.read.parquet(m.docs_path), spark.read.parquet(m.emb_path)),
                result=self._state)
            m.visible = {d["doc_id"]: d["text"] for d in db.get_documents(m.updated + m.inserted)}
        else:
            rn.op("setup.delete", lambda: db.delete_documents(f"n = {m.bucket}"), result=self._state)
            m.visible = {r["doc_id"] for r in db.documents().where(f"n = {m.bucket}").select("doc_id").collect()}
        rn.op("setup.read", lambda: db.search(vector=m.probe, limit=K), collect=True, args={"m": m})

    def request(self, rn, kind: str, prefix: str = "", traced=None) -> None:
        db, rng = self.db, self.rng
        q = gen.query_vectors(rng, self.corpus.vecs, 1)[0].tolist()
        args = {"q": q}
        if kind == "search":
            build = lambda: db.search(vector=q, limit=K)  # noqa: E731
        elif kind == "filtered_search":
            # ~40% (lang) and ~5% (one of 20 categories) selectivity
            key = "en" if rng.random() < 0.5 else f"c{int(rng.integers(0, gen.N_CATS)):02d}"
            flt = EN if key == "en" else _cat_filter(key)
            args["allowed"] = key
            build = lambda: db.search(vector=q, limit=K, filter=flt)  # noqa: E731
        elif kind == "hybrid_search":
            text = gen.query_texts(rng, 1)[0]
            flt = EN if rng.random() < 0.5 else None
            args["allowed"] = "en" if flt else None
            build = lambda: db.hybrid_search(text, q, limit=K, strategy="rrf", filter=flt)  # noqa: E731
        elif kind == "ivf_search":
            build = lambda: db.search(vector=q, limit=K, index="ivf")  # noqa: E731
        else:
            qs = gen.query_vectors(rng, self.corpus.vecs, BATCH_QUERIES)
            args["qs"] = qs
            build = lambda: db.search_batch(qs.tolist(), limit=K)  # noqa: E731
        rn.op(prefix + kind, build, collect=True, traced=traced, args=args)

    def body(self, rn) -> None:
        cycle = list(self.CYCLE)
        for _, traced in rn.units():
            self.rng.shuffle(cycle)
            for kind in cycle:
                self.request(rn, kind, traced=traced)
        rn.overhead_probe(lambda traced: self.request(rn, "search", prefix="probe.", traced=traced))

    def check_writes(self) -> None:
        """Read-your-writes: upserted values visible, deleted rows gone."""
        for m in self.writes:
            if m.kind == "upsert":
                want = dict(zip(m.after.ids.tolist(), m.after.texts))
                want = {i: want[i] for i in m.updated + m.inserted}
                if m.visible != want:
                    miss = [i for i in want if m.visible.get(i) != want[i]]
                    raise checks.CheckFailed(f"upsert: written rows not visible: ids {miss[:5]}")
            elif m.visible:
                raise checks.CheckFailed(f"delete: ids {sorted(m.visible)[:5]} still readable")
        final = {r["doc_id"] for r in self.db.documents().select("doc_id").collect()}
        if final != set(self.corpus.ids.tolist()):
            raise checks.CheckFailed(
                f"store holds {len(final)} rows, the write plan leaves {len(self.corpus.ids)}")

    def check(self, rn) -> None:
        self.check_writes()
        c = self.corpus
        self.recalls = []
        for r in rn.records:
            kind = r["op"].removeprefix("setup.warm.").removeprefix("probe.")
            t, a = r.get("table"), r.get("args", {})
            if t is None:
                continue
            label = f"{r['op']}#{r['i']}"
            if kind == "setup.read":
                m = a["m"]
                hits = _hits(t)
                back = set(m.deleted) & {h[0] for h in hits} if m.kind == "delete" else set()
                if back:
                    raise checks.CheckFailed(f"{label}: deleted ids {sorted(back)} returned")
                checks.check_topk(label, hits, m.after.ids, m.after.vecs, m.probe, K)
            elif kind == "search":
                checks.check_topk(label, _hits(t), c.ids, c.vecs, a["q"], K)
            elif kind == "filtered_search":
                allowed = self.allowed[a["allowed"]]
                sel = np.isin(c.ids, list(allowed))
                checks.check_members(label, t.column("vec_id").to_pylist(), allowed, K)
                checks.check_topk(label, _hits(t), c.ids[sel], c.vecs[sel], a["q"], K)
            elif kind == "hybrid_search":
                allowed = self.allowed[a["allowed"]] if a["allowed"] else set(c.ids.tolist())
                checks.check_members(label, t.column(_id_col(t)).to_pylist(), allowed, K)
            elif kind == "ivf_search":
                hits = _hits(t)
                checks.check_scores(label, hits, c.ids, c.vecs, a["q"], K)
                exact = checks.exact_ids(c.ids, c.vecs, a["q"], K)
                self.recalls.append(len({h[0] for h in hits} & set(exact)) / K)
            elif kind == "batch_search":
                qid = np.array(t.column("query_id").to_pylist())
                hits = _hits(t)
                for j, q in enumerate(a["qs"]):
                    mine = [h for h, z in zip(hits, qid) if z == j]
                    checks.check_topk(f"{label}/q{j}", mine, c.ids, c.vecs, q, K)

    def throughput(self, rn) -> float:
        """Queries answered per second of request time over the timed
        cycles, whose mix is fixed (a batch call answers 64 queries)."""
        ops = rn.timed()
        queries = sum(BATCH_QUERIES if r["op"] == "batch_search" else 1 for r in ops)
        return queries / sum(r["wall_s"] for r in ops)

    def recall(self, rn) -> float:
        """IVF recall@10 against the exact numpy top-10."""
        return float(np.mean(self.recalls))


class Curate:
    """The corpus-curation pipeline over a generated corpus shaped like the
    engine's fixture documents. Executor work in Python/Arrow kernels and
    pair-generating shuffles carries the time; the facade and publish are
    not touched."""

    name = "curate"
    headline = "step"
    # (step, registered query whose arguments and DuckDB twin it shares)
    STEPS = [
        ("normalize_text", "normalize_text"),
        ("quality_score", "quality"),
        ("exact_duplicates", "dedup_exact"),
        ("minhash_signatures", "minhash_signatures"),
        ("minhash_lsh_candidates", None),
        ("minhash_lsh_pairs", "dedup_minhash"),
        ("simhash_pairs", "simhash_pairs"),
        ("embedding_neardup_pairs_lsh", "embedding_neardup_lsh"),
        ("fingerprints", "fingerprints"),
        ("dup_span_coverage", "dup_spans"),
    ]
    setup_reps = 3

    def __init__(self, work: str, seed: int, scale: dict):
        self.work = work
        self.n_doc, self.n_emb = scale["curate_docs"], scale["curate_vecs"]
        self.rng = np.random.default_rng(seed)
        self.sf_dir = f"{work}/corpus"

    def inputs(self) -> int:
        os.makedirs(self.sf_dir, exist_ok=True)
        size, self.planted = gen.write_curate(self.rng, self.sf_dir, self.n_doc, self.n_emb)
        return size

    def setup(self, rn) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self._clear(keep=())
        # the corpus tables, read and cached: the warm input of a curation job
        for load in (entry._docs, entry._emb):
            load(rn.spark, self.sf_dir).count()

    def _clear(self, keep=("docs", "emb")) -> None:
        cache = self.entry._CACHE
        for key in [k for k in cache if k[0] not in keep]:
            cache.pop(key).unpersist()

    def body(self, rn) -> None:
        qs = self.entry.queries()
        fns = {s: (qs[q] if q else self.entry._minhash_cands) for s, q in self.STEPS}
        for _, traced in rn.units():
            self._clear()
            for step, _ in self.STEPS:
                rn.op(step, lambda f=fns[step]: f(rn.spark, self.sf_dir), collect=True,
                      traced=traced, kind="step")
        rn.overhead_probe(lambda traced: rn.op(
            "probe.exact_duplicates", lambda: fns["exact_duplicates"](rn.spark, self.sf_dir),
            collect=True, traced=traced))

    def check(self, rn) -> None:
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        oracles, twin, replayed = self.entry.oracle_sql(), dict(self.STEPS), {}
        found = {}
        for r in rn.records:
            step, t = r["op"].removeprefix("probe."), r.get("table")
            if t is None:
                continue
            if step in ("minhash_lsh_candidates", "minhash_lsh_pairs"):
                found[step] = set(zip(t.column("a").to_pylist(), t.column("b").to_pylist()))
            if twin[step] is None:
                continue
            if step not in replayed:
                res = con.sql(oracles[twin[step]])
                replayed[step] = ([d[0] for d in res.description], res.fetchall())
            checks.check_oracle(step, *checks.table_rows(t), *replayed[step])
        pairs = found.get("minhash_lsh_pairs", set())
        if not found.get("minhash_lsh_candidates", set()) >= pairs:
            raise checks.CheckFailed("minhash_lsh_candidates: misses verified pairs")
        self.found = {(min(a, b), max(a, b)) for a, b in pairs}

    def throughput(self, rn) -> float:
        """Documents curated per second of pipeline time."""
        steps = [r for r in rn.timed() if r["kind"] == "step"]
        return self.n_doc * (len(steps) / len(self.STEPS)) / sum(r["wall_s"] for r in steps)

    def recall(self, rn) -> float:
        """Share of the planted near-duplicate pairs the MinHash LSH pairs
        return."""
        return len(self.found & set(self.planted)) / max(1, len(self.planted))


WORKLOADS = {w.name: w for w in (Serve, Curate)}
