"""Vectorized extraction engine — Arrow-native regex, columnar record build.

The extraction engine for stage 2-3, batch and streaming alike (see
operators/extraction.py for the contract and the reference citations):
instead of a per-turn Python loop over compiled ``re`` patterns, each Arrow
batch is matched against every grammar with ``pyarrow.compute.extract_regex``
(RE2, C loop, no per-row Python), rows are claimed first-match-wins by
boolean masks, and records are assembled as column arrays. Python only
touches MATCHED group values (amount/date normalization, phone cascade) via
cached maps — O(matches), not O(turns x rules).

Record-for-record equal to the per-turn loop ``extraction.extract_records``,
kept as the test oracle (asserted in tests/test_extraction_vec.py on both
the events-derived and the fuzz corpora, and for the streamed records in
tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from owl_n4j_spark.functions.keys import person_key
from owl_n4j_spark.operators.extraction import (
    ACCOUNT,
    AMOUNT,
    DATE,
    CITY,
    EMAIL,
    EXTRACTION_SCHEMA,
    NAME,
    ORG,
    PHONE,
    _REC_COLS,
    add_thread_mentions,
    normalize_amount,
    normalize_date,
)

# Named-group forms of the grammars in operators/extraction.py (same order,
# same anchoring: ^ = re.match rules; bare = re.search rules).


def _g(name: str, pat: str) -> str:
    return f"(?P<{name}>{pat})"


_VEC_RULES: list[tuple[str, str]] = [
    ("intro", rf"this is {_g('n', NAME)}\. Call me at {_g('p', PHONE)}\."),
    ("paid", rf"^{_g('a', NAME)} paid {_g('amt', AMOUNT)} to {_g('b', NAME)} on {_g('d', DATE)}\."),
    ("xfer", rf"^{_g('a', NAME)} transferred {_g('amt', AMOUNT)} to account {_g('acc', ACCOUNT)}\."),
    ("works", rf"^{_g('a', NAME)} works for {_g('o', ORG)}\."),
    ("met", rf"^{_g('a', NAME)} met {_g('b', NAME)} in {_g('c', CITY)}\."),
    ("travel", rf"^{_g('a', NAME)} traveled to {_g('c', CITY)} on {_g('d', DATE)}\."),
    ("called", rf"^{_g('a', NAME)} called {_g('b', NAME)} yesterday\."),
    ("reach", rf"reach {_g('n', NAME)} at {_g('e', EMAIL)}\."),
    ("owns", rf"^{_g('a', NAME)} owns account {_g('acc', ACCOUNT)}\."),
]


def _nk_series(s: pd.Series) -> pd.Series:
    """Vectorized normalise_key — the same regex chain as
    functions/keys.py:38 run through Arrow compute (RE2 C loops; measured
    3.3x the pandas .str chain, output byte-identical incl. unicode)."""
    a = pc.utf8_lower(pc.utf8_trim_whitespace(pa.array(s, type=pa.string())))
    a = pc.replace_substring_regex(a, r"[\s_]+", "-")
    a = pc.replace_substring_regex(a, r"[^a-z0-9\-]", "")
    a = pc.replace_substring_regex(a, r"-+", "-")
    a = pc.utf8_trim(a, "-")
    return pd.Series(a.to_pandas().values, index=s.index, dtype=object)


def _role_key(role) -> str | None:
    if not isinstance(role, str):
        return None
    return person_key(role, name=role)


# A "leg" is one record shape over a set of turns: its values in _REC_COLS
# order, each a per-turn array or a scalar broadcast by _assemble. Legs stay
# plain arrays — one DataFrame per batch, not per leg: pandas' per-frame
# cost dominated small (streaming-sized) batches.
def _take(rows: dict[str, np.ndarray], mask: np.ndarray) -> dict[str, np.ndarray]:
    return {c: a[mask] for c, a in rows.items()}


def _mk(sub: dict[str, np.ndarray], kind: str, surface=None,
        mention_key=None, mention_type=None, subj=None, pred=None, obj=None,
        amount=None, date=None) -> list:
    def val(x):
        if isinstance(x, pd.Series):
            return x.values
        return x
    return [sub["conv_id"], sub["turn_idx"], kind, val(surface),
            val(mention_key), mention_type, val(subj), pred, val(obj),
            val(amount), val(date), sub["ts"]]


def _assemble(legs: list[list]) -> pd.DataFrame:
    cols = {}
    for j, c in enumerate(_REC_COLS):
        cols[c] = np.concatenate([
            leg[j] if isinstance(leg[j], np.ndarray)
            else np.full(len(leg[0]), leg[j], dtype=object)
            for leg in legs])
    return pd.DataFrame(cols)


def _emit(rule: str, sub: dict[str, np.ndarray], g: dict[str, pd.Series],
          gaz: frozenset) -> list[list]:
    out: list[list] = []
    if rule == "intro":
        nk = _nk_series(g["n"])
        pk = g["p"].map(lambda s: person_key(s))
        out.append(_mk(sub, "mention", g["n"], nk, "Person"))
        ok = pk.notna().values
        if ok.any():
            s2 = _take(sub, ok)
            out.append(_mk(s2, "mention", g["p"][ok], pk[ok], "Person"))
            out.append(_mk(s2, "sameas", subj=nk[ok], pred="SAME_AS",
                           obj=pk[ok]))
    elif rule == "paid":
        ka, kb = _nk_series(g["a"]), _nk_series(g["b"])
        amt = g["amt"].map(normalize_amount)
        dt = g["d"].map(normalize_date)
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["b"], kb, "Person"))
        out.append(_mk(sub, "triple", subj=ka, pred="PAID", obj=kb,
                       amount=amt, date=dt))
    elif rule == "xfer":
        ka, kacc = _nk_series(g["a"]), _nk_series(g["acc"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["acc"], kacc, "Account"))
        out.append(_mk(sub, "triple", subj=ka, pred="TRANSFERRED_TO",
                       obj=kacc, amount=g["amt"].map(normalize_amount)))
    elif rule == "works":
        ka, ko = _nk_series(g["a"]), _nk_series(g["o"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["o"], ko, "Company"))
        out.append(_mk(sub, "triple", subj=ka, pred="WORKS_FOR", obj=ko))
    elif rule == "met":
        ka, kb = _nk_series(g["a"]), _nk_series(g["b"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["b"], kb, "Person"))
        out.append(_mk(sub, "triple", subj=ka, pred="MET", obj=kb))
        in_gaz = g["c"].isin(gaz).values
        if in_gaz.any():
            s2 = _take(sub, in_gaz)
            ck = _nk_series(g["c"][in_gaz])
            out.append(_mk(s2, "mention", g["c"][in_gaz], ck, "Location"))
            out.append(_mk(s2, "triple", subj=ka[in_gaz], pred="WAS_AT", obj=ck))
            out.append(_mk(s2, "triple", subj=kb[in_gaz], pred="WAS_AT", obj=ck))
    elif rule == "travel":
        ka = _nk_series(g["a"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        in_gaz = g["c"].isin(gaz).values
        if in_gaz.any():
            s2 = _take(sub, in_gaz)
            ck = _nk_series(g["c"][in_gaz])
            dt = g["d"][in_gaz].map(normalize_date)
            out.append(_mk(s2, "mention", g["c"][in_gaz], ck, "Location",
                           date=dt))
            out.append(_mk(s2, "triple", subj=ka[in_gaz], pred="TRAVELED_TO",
                           obj=ck, date=dt))
    elif rule == "called":
        ka, kb = _nk_series(g["a"]), _nk_series(g["b"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["b"], kb, "Person"))
        out.append(_mk(sub, "triple", subj=ka, pred="CALLED", obj=kb))
    elif rule == "reach":
        nk = _nk_series(g["n"])
        ek = "email-" + g["e"].str.lower()
        out.append(_mk(sub, "mention", g["n"], nk, "Person"))
        out.append(_mk(sub, "mention", g["e"], ek, "Person"))
        out.append(_mk(sub, "sameas", subj=nk, pred="SAME_AS", obj=ek))
    elif rule == "owns":
        ka, kacc = _nk_series(g["a"]), _nk_series(g["acc"])
        out.append(_mk(sub, "mention", g["a"], ka, "Person"))
        out.append(_mk(sub, "mention", g["acc"], kacc, "Account"))
        out.append(_mk(sub, "triple", subj=ka, pred="OWNS_ACCOUNT", obj=kacc))
    return out


def extract_records_stateless_vec(transcripts: DataFrame,
                                  gazetteer: list[str] | None = None) -> DataFrame:
    from owl_n4j_spark.synth import CITIES
    gaz = frozenset(gazetteer or CITIES)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One Arrow compute thread per Python worker: the executor thread IS
        # the parallelism unit; Arrow's default pool (one per host core, per
        # worker process) oversubscribes the host N_workers x N_cores and
        # measurably THRASHES — pinning doubled local[2] throughput
        # (52-58k -> 104-117k turns/s) and is what a per-executor cgroup
        # enforces on a real cluster anyway. NOTE: these setters are
        # process-global and deliberately NOT restored — Spark reuses the
        # Python worker across stages, so every later Arrow-compute user in
        # this worker inherits the 1-thread pool. That is the behavior we
        # want for ALL our mapInPandas ops (each already holds one executor
        # thread); revisit if an op is ever added that relies on intra-call
        # Arrow parallelism.
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        empty = pd.DataFrame({c: pd.Series(dtype="object") for c in _REC_COLS})
        for pdf in batches:
            legs: list[list] = []
            rows = {c: pdf[c].values for c in ("conv_id", "turn_idx", "ts")}
            # ---- speaker leg: unique-role cascade map --------------------
            roles = pdf["role"]
            rmap = {r: _role_key(r) for r in roles.unique()}
            spk = roles.map(rmap)
            has_spk = spk.notna().values
            if has_spk.any():
                sub = _take(rows, has_spk)
                legs.append(_mk(sub, "mention", roles[has_spk],
                                spk[has_spk], "Person"))
                legs.append(_mk(sub, "triple", subj=spk[has_spk],
                                pred="SENT_MESSAGE",
                                obj="chat-" + pdf["conv_id"][has_spk]))
            # ---- grammar legs: RE2 extract + first-match-wins masks ------
            text = pdf["text"].map(lambda x: x if isinstance(x, str) else None)
            arr = pa.array(text.tolist(), type=pa.string())
            unclaimed = (text.notna() & (text != "")).values
            for rule, pat in _VEC_RULES:
                if not unclaimed.any():
                    break
                st = pc.extract_regex(arr, pat)
                take = pc.is_valid(st).to_numpy(zero_copy_only=False) & unclaimed
                if take.any():
                    g = {f.name: pd.Series(st.field(f.name).to_numpy(
                            zero_copy_only=False)[take], dtype=object)
                         for f in st.type}
                    legs.extend(_emit(rule, _take(rows, take), g, gaz))
                unclaimed &= ~take
            o = _assemble(legs) if legs else empty.copy()
            o["turn_idx"] = o["turn_idx"].astype("int32")
            yield o

    return transcripts.mapInPandas(run, schema=EXTRACTION_SCHEMA)


def extract_records_vec(transcripts: DataFrame,
                        gazetteer: list[str] | None = None) -> DataFrame:
    """Vectorized analog of extraction.extract_records (same output
    contract incl. the relational thread-mention tail). The Arrow extractor
    runs once per turn per action: the tail reads its output through one
    checkpoint (``add_thread_mentions``)."""
    return add_thread_mentions(extract_records_stateless_vec(transcripts,
                                                             gazetteer))
