"""Mention → entity linking contract (north_rule: "link mentions to a
broadcast alias dictionary with candidate-generation via char-ngram MinHash
and contextual scoring").

Pure functions here define the semantics once; ``pipeline.py`` expresses the
same logic as DataFrame ops (broadcast hash join for exact matches, banded
MinHash LSH join for fuzzy candidates) and ``oracle.py`` runs it
single-process. Both must produce identical links.
"""

from __future__ import annotations

import pandas as pd

from .textops import normalize_surface

#: fuzzy candidates below this trigram-Jaccard are dropped
JACCARD_MIN = 0.30
#: link score weights: exact = 1.0 + w_prior*prior; fuzzy = w_j*jacc + w_prior*prior
W_JACCARD = 0.7
W_PRIOR = 0.3


def exact_score(prior: float) -> float:
    return round(1.0 + W_PRIOR * prior, 6)


def fuzzy_score(jacc: float, prior: float) -> float:
    return round(W_JACCARD * jacc + W_PRIOR * prior, 6)


def best_candidate(cands: list[tuple[float, int]]) -> tuple[float, int] | None:
    """Deterministic winner: max score, ties broken by smaller entity_id."""
    if not cands:
        return None
    return max(cands, key=lambda c: (c[0], -c[1]))


class AliasIndex:
    """Single-process alias index (oracle side; the Spark side broadcasts the
    same alias table and reproduces this with joins)."""

    def __init__(self, alias_df: pd.DataFrame):
        from .textops import minhash_bands_batch

        self.exact: dict[str, list[tuple[int, float]]] = {}
        self.bands: dict[tuple[int, int], list[int]] = {}  # (band_idx, hash) -> alias row ids
        self.rows = alias_df.reset_index(drop=True)
        norms = [normalize_surface(a) for a in self.rows["alias"]]
        self.rows = self.rows.assign(alias_norm=norms)
        all_bands = minhash_bands_batch(norms, already_norm=True)
        for rid, (norm, eid, prior) in enumerate(
            zip(norms, self.rows["entity_id"], self.rows["prior"])
        ):
            self.exact.setdefault(norm, []).append((int(eid), float(prior)))
            for bi, bh in enumerate(all_bands[rid]):
                self.bands.setdefault((bi, int(bh)), []).append(rid)
        # probe-time invariants, computed once instead of per linked surface:
        # the exact winner per norm (link() never mixes exact with fuzzy, so
        # the winner among exacts is a pure function of the dictionary) and
        # each alias row's gram set + (entity_id, prior) tuple
        self.exact_best: dict[str, tuple[float, int]] = {
            norm: best_candidate([(exact_score(p), e) for e, p in pairs])
            for norm, pairs in self.exact.items()
        }
        self.row_ep: list[tuple[int, float]] = [
            (int(e), float(p))
            for e, p in zip(self.rows["entity_id"], self.rows["prior"])
        ]
        # plain-list view of alias_norm: _fuzzy_batch indexes it once per
        # candidate pair, and a pandas .iloc scalar lookup there would cost
        # more than the batched Jaccard it feeds
        self.row_norms: list[str] = list(self.rows["alias_norm"])

    def _fuzzy(self, norm: str, bands) -> tuple[float, int] | None:
        """Fuzzy winner for one normalized surface given its band hashes.
        Single-row view of :meth:`_fuzzy_batch` (one code path, no drift)."""
        return self._fuzzy_batch([norm], [bands])[0]

    def _fuzzy_batch(self, norms: list[str], bands_rows) -> list:
        """Fuzzy winners for a batch of normalized surfaces given their
        band-hash rows. Bucket probes stay dict lookups (bounded: 8 bands
        per surface); the Jaccard over all gathered (surface, alias-row)
        candidate pairs runs as ONE textops.batch_jaccard_pairs call
        (sorted-array set ops over packed gram codes) instead of building
        two Python gram sets per candidate — the round-3 verdict's
        remaining interpreter loop on the beyond-broadcast path."""
        from .textops import batch_jaccard_pairs

        pair_i: list[int] = []
        pair_rid: list[int] = []
        for i, bands in enumerate(bands_rows):
            seen: set[int] = set()
            for bi, bh in enumerate(bands):
                for rid in self.bands.get((bi, int(bh)), []):
                    if rid not in seen:
                        seen.add(rid)
                        pair_i.append(i)
                        pair_rid.append(rid)
        out: list = [None] * len(norms)
        if not pair_i:
            return out
        jaccs = batch_jaccard_pairs(
            [norms[i] for i in pair_i],
            [self.row_norms[rid] for rid in pair_rid],
            already_norm=True,
        )
        cands: dict[int, list[tuple[float, int]]] = {}
        for k, (i, rid) in enumerate(zip(pair_i, pair_rid)):
            j = float(jaccs[k])
            if j >= JACCARD_MIN:
                eid, prior = self.row_ep[rid]
                cands.setdefault(i, []).append((fuzzy_score(j, prior), eid))
        for i, cl in cands.items():
            out[i] = best_candidate(cl)
        return out

    def link(self, surface: str) -> tuple[int, float] | None:
        """Surface → (entity_id, score) or None (unlinkable)."""
        norm = normalize_surface(surface)
        got = self.link_batch([norm], already_norm=True)[0]
        return got

    def link_batch(
        self, surfaces: list[str], already_norm: bool = False
    ) -> list[tuple[int, float] | None]:
        """Vectorized probe: exact winners are dict lookups against the
        precomputed per-norm best; MinHash banding for the (minority)
        non-exact remainder runs as ONE textops.minhash_bands_batch call —
        the Arrow hot path of pipeline.link_pairs' broadcast probe.
        Bit-identical to the historical per-surface link() (fuzzy only
        when no exact hit)."""
        from .textops import minhash_bands_batch

        norms = (
            list(surfaces) if already_norm
            else [normalize_surface(s) for s in surfaces]
        )
        out: list[tuple[int, float] | None] = [None] * len(norms)
        fuzzy_idx = []
        for i, norm in enumerate(norms):
            hit = self.exact_best.get(norm)
            if hit is not None:
                out[i] = (hit[1], hit[0])
            else:
                fuzzy_idx.append(i)
        if fuzzy_idx:
            bands = minhash_bands_batch(
                [norms[i] for i in fuzzy_idx], already_norm=True
            )
            bests = self._fuzzy_batch([norms[i] for i in fuzzy_idx], bands)
            for best, i in zip(bests, fuzzy_idx):
                if best is not None:
                    out[i] = (best[1], best[0])
        return out


def union_find_canonical(alias_df: pd.DataFrame) -> dict[int, int]:
    """entity_id → canonical_id (min id of its connected component; edges =
    entities sharing a normalized alias). Oracle for the Spark CC stage."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    by_alias: dict[str, int] = {}
    for eid, alias in zip(alias_df["entity_id"], alias_df["alias"]):
        norm = normalize_surface(alias)
        if norm in by_alias:
            union(int(eid), by_alias[norm])
        else:
            by_alias[norm] = int(eid)
        parent.setdefault(int(eid), int(eid))
    # min-id representative per component
    comp_min: dict[int, int] = {}
    for eid in list(parent):
        r = find(eid)
        comp_min[r] = min(comp_min.get(r, eid), eid)
    return {eid: comp_min[find(eid)] for eid in parent}
