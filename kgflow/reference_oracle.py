"""Pure-pandas reimplementation of the reference importers' semantics.

This is the *oracle* side of the P/R ≥ 0.95 gate: it re-derives the
expected ``(subj, pred, obj)`` triple set from the same transcript +
lexicon fixtures using plain Python (union-find, dict scans — no Spark),
codifying the reference's conventions with citations:

* obsolete terms never link (``import_go_obo.py:105``);
* key hygiene: trim + lower before matching
  (``cql/remediation/remediate_uniprot_pubmed_ids.cql:8-26``);
* predicate normalization: upper-case, ``:``/space → ``_``
  (``import_go_obo.py:256``, ``import_squence_ontology_obo.py:98``);
* MERGE idempotence → triple set semantics (unique (subj,pred,obj));
* symmetric pairs one-directional via lexical (least, greatest)
  (deterministic replacement for ``id(u1) < id(u2)``,
  ``uniprot_intact.cql:30-39``);
* duplicate-surface resolution: min(term_id) wins (deterministic
  replacement for MERGE first-writer-wins).
"""

from __future__ import annotations

import re

import pandas as pd

_TOKEN_RE = re.compile(r"\S+")


def _surface_map(terms: pd.DataFrame) -> dict[str, tuple[str, str]]:
    """surface → (term_id, namespace), min(term_id) per surface."""
    out: dict[str, tuple[str, str]] = {}
    for row in terms.itertuples():
        if bool(row.is_obsolete):
            continue
        for s in [row.name] + list(row.synonyms or []):
            if s is None:
                continue
            key = s.strip().lower()
            if not key:
                continue
            cand = (row.term_id, row.namespace)
            if key not in out or cand[0] < out[key][0]:
                out[key] = cand
    return out


def _canonical_map(terms: pd.DataFrame) -> dict[str, str]:
    """Union-find over (term_id, alt_id) same-as links → min-id canonical."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra == rb:
            return
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        parent[hi] = lo

    for row in terms.itertuples():
        for alt in row.alt_ids or []:
            alt = alt.strip()
            if alt:
                union(row.term_id, alt)
    return {x: find(x) for x in list(parent)}


def _scan(text: str, surfaces: dict[str, tuple[str, str]], max_len: int) -> list[tuple[str, str]]:
    """Greedy non-overlapping longest-match over whitespace tokens."""
    toks = [m.group(0).lower() for m in _TOKEN_RE.finditer(text or "")]
    hits: list[tuple[str, str]] = []
    i = 0
    while i < len(toks):
        matched = False
        for L in range(min(max_len, len(toks) - i), 0, -1):
            cand = " ".join(toks[i : i + L])
            if cand in surfaces:
                hits.append(surfaces[cand])
                i += L
                matched = True
                break
        if not matched:
            i += 1
    return hits


def expected_triples(
    transcripts: pd.DataFrame,
    terms: pd.DataFrame,
    isa_edges: pd.DataFrame,
) -> set[tuple[str, str, str]]:
    """The reference-semantics triple set for the fixtures."""
    surfaces = _surface_map(terms)
    max_len = max((len(k.split()) for k in surfaces), default=1)
    canon = _canonical_map(terms)

    triples: set[tuple[str, str, str]] = set()

    tr = transcripts.sort_values(["conv_id", "turn_idx"])
    for row in tr.itertuples():
        turn = f"turn:{row.conv_id}:{row.turn_idx}"
        conv = f"conv:{row.conv_id}"
        hits = _scan(row.text, surfaces, max_len)
        term_ids = []
        for term_id, ns in hits:
            cid = canon.get(term_id, term_id)
            term_ids.append(cid)
            triples.add((turn, "MENTIONS", cid))
            triples.add((conv, "HAS_" + ns.upper(), cid))
        uniq = sorted(set(term_ids))
        for ai in range(len(uniq)):
            for bi in range(ai + 1, len(uniq)):
                triples.add((uniq[ai], "CO_OCCURS_WITH", uniq[bi]))

    # NEXT_TURN under stable (conv_id, turn_idx) ordering
    for conv_id, grp in tr.groupby("conv_id"):
        idxs = sorted(grp["turn_idx"])
        for a, b in zip(idxs, idxs[1:]):
            triples.add((f"turn:{conv_id}:{a}", "NEXT_TURN", f"turn:{conv_id}:{b}"))

    for row in isa_edges.itertuples():
        pred = re.sub(r"[: ]", "_", row.predicate.strip()).upper()
        s = canon.get(row.subject_id.strip(), row.subject_id.strip())
        o = canon.get(row.object_id.strip(), row.object_id.strip())
        triples.add((s, pred, o))

    return triples
