"""corpus_dedup: a MinHash near-duplicate index built once per pass, probed
and grown by an increment batch, then one candidate join over the corpus.

One pass builds the index over the standing corpus (minhash_build_index),
probes it with the increment (minhash_query_index), appends the increment
(minhash_append_index), and runs the corpus-wide candidate generation and
exact verification (minhash_candidates, jaccard_pairs).  Pairing the build
with the probe shows a probe gain that is paid for in build cost.

The production hashes (xxhash64) are not replayable outside Spark, so the
results are checked by properties against exact recomputation.
"""

from __future__ import annotations

import pandas as pd

from harness import Workload, percentile

MIN_EST, JACCARD = 0.5, 0.5
PLANTED_J = 0.8  # planted pairs at or above this exact Jaccard must be found
NUM_HASHES, BANDS = 64, 32


def shingles(text: str, k: int = 3) -> set[str]:
    """functions.text.word_shingles: distinct k-word grams, lowercased."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class CorpusDedup(Workload):

    def __init__(self, meta: dict, seed: int) -> None:
        self.files = meta["files"]
        self.batches = meta["batches"]
        self.planted = meta["planted"]
        self.n_docs = meta["docs"]
        self._texts: dict[int, set] | None = None

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.files["corpus_docs"])
        self.docs.count()

    def max_passes(self) -> int:
        return len(self.batches)

    def run_pass(self, rec, index: int) -> None:
        from financial_data_science_spark.functions import minhash_index as MHI
        from financial_data_science_spark.functions.similarity import (
            jaccard_pairs, minhash_candidates)

        collect = lambda df: df.toPandas()  # noqa: E731
        built: dict[str, dict] = {}

        def build() -> dict:
            built["index"] = MHI.minhash_build_index(
                self.docs, num_hashes=NUM_HASHES, bands=BANDS, persist=True)
            return built["index"]

        if rec.op("functions", "minhash_build_index", f"minhash_build_index:{index}",
                  build, lambda ix: ix["sigs"].count()) is not None:
            batch = self.spark.read.parquet(self.batches[index])
            rec.op("functions", "minhash_query_index", f"minhash_query_index:{index}",
                   lambda: MHI.minhash_query_index(batch, built["index"], min_est=MIN_EST),
                   collect)
            rec.op("functions", "minhash_append_index", f"minhash_append_index:{index}",
                   lambda: MHI.minhash_append_index(built["index"], batch, persist=True),
                   lambda ix: ix["sigs"].count())
        rec.op("functions", "minhash_candidates", f"minhash_candidates:{index}",
               lambda: minhash_candidates(self.docs, num_hashes=NUM_HASHES, bands=BANDS),
               collect)
        rec.op("functions", "jaccard_pairs", f"jaccard_pairs:{index}",
               lambda: jaccard_pairs(self.docs, threshold=JACCARD), collect)

    def _ms(self, rec, name: str) -> list[float]:
        return [r.ms for r in rec.results if r.name == name]

    def close(self, rec) -> tuple[dict, dict]:
        probe = self._ms(rec, "minhash_query_index")
        build = self._ms(rec, "minhash_build_index")
        cand = [len(r.value) for r in rec.results if r.name == "minhash_candidates"]
        ver = [len(r.value) for r in rec.results if r.name == "jaccard_pairs"]
        e2e = {"index_build_s": sum(build) / 1e3 / max(len(build), 1),
               "probe_ms_p50": percentile(probe, 50), "probe_ms_p90": percentile(probe, 90),
               "probes": len(probe)}
        n_cand = sum(cand) / max(len(cand), 1)
        n_ver = sum(ver) / max(len(ver), 1)
        return e2e, {"functions.lsh_candidates": n_cand,
                     "functions.verified_pairs": n_ver,
                     "functions.verify_yield": n_ver / n_cand if n_cand else 0.0}

    # ----------------------------------------------------------- oracles
    def _all_docs(self) -> dict[int, set]:
        if self._texts is None:
            d = pd.concat([pd.read_parquet(self.files["corpus_docs"])]
                          + [pd.read_parquet(b) for b in self.batches])
            self._texts = {int(i): shingles(t) for i, t in zip(d.doc_id, d.text)}
        return self._texts

    def _batch_ids(self, b: int) -> list[int]:
        return pd.read_parquet(self.batches[b], columns=["doc_id"]).doc_id.tolist()

    def _planted_pairs(self, ids) -> set[tuple[int, int]]:
        texts = self._all_docs()
        return {(i, self.planted[i]) for i in ids if self.planted[i] >= 0
                and jaccard(texts[i], texts[self.planted[i]]) >= PLANTED_J}

    def check(self, key: str, value) -> str | None:
        name, n = key.split(":")
        n = int(n)
        texts = self._all_docs()
        if name == "minhash_build_index":
            return None if value == self.n_docs else f"{value} signatures"
        if name == "minhash_append_index":
            want = self.n_docs + len(self._batch_ids(n))
            return None if value == want else f"index holds {value}, expected {want}"
        if name == "minhash_query_index":
            got = set(zip(value.new_id.astype(int), value.corpus_id.astype(int)))
            for a, c, est in zip(value.new_id, value.corpus_id, value.est_jaccard):
                if est < MIN_EST or abs(jaccard(texts[a], texts[c]) - est) > 0.3:
                    return f"estimate {est} far from exact Jaccard for {(a, c)}"
            missed = self._planted_pairs(self._batch_ids(n)) - got
            return f"planted near-duplicates missed: {sorted(missed)[:3]}" if missed else None
        if name in ("minhash_candidates", "jaccard_pairs"):
            got = {(min(a, b), max(a, b)) for a, b in zip(value.left_id, value.right_id)}
            if name == "jaccard_pairs":
                for a, b, j in zip(value.left_id, value.right_id, value.jaccard):
                    exact = jaccard(texts[a], texts[b])
                    if exact < JACCARD or abs(exact - j) > 1e-9:
                        return f"pair {(a, b)} has exact Jaccard {exact:.4f}, reported {j}"
            planted = {(min(a, b), max(a, b))
                       for a, b in self._planted_pairs(range(self.n_docs))}
            missed = planted - got
            return f"planted near-duplicates missed: {sorted(missed)[:3]}" if missed else None
        raise KeyError(key)
