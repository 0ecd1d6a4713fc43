"""Independent result checks, run outside the timed window.

Matches are re-evaluated in plain Python over the store's live parquet
files (read with pyarrow), restored genomes are re-hashed, VCF files
are re-read and compared with the stored variant calls, and registry
row counts come from each query's DuckDB twin.  Token expansion follows
the covsonar grammar (IUPAC ambiguity sets, trailing N/X "any change"
groups) and is restated here rather than imported from the engine.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import re

import pyarrow.parquet as pq

IUPAC_NT = {
    "A": "A", "C": "C", "G": "G", "T": "T", "R": "AGR", "Y": "CTY",
    "S": "GCS", "W": "ATW", "K": "GTK", "M": "ACM", "B": "CGTB",
    "D": "AGTD", "H": "ACTH", "V": "ACGV",
}
IUPAC_NT["N"] = "".join(sorted(set("".join(IUPAC_NT.values())))) + "N"
_AA = "ARNDCQEGHILKMFPSTWYVUO"
IUPAC_AA = {a: a for a in _AA}
IUPAC_AA.update({"B": "DNB", "Z": "EQZ", "J": "ILJ", "Φ": "VILFWYMΦ",
                 "Ω": "FWYHΩ", "Ψ": "VILMΨ", "π": "PGASπ", "ζ": "STHNQEDKRζ",
                 "+": "KRH+", "-": "DE-"})
IUPAC_AA["X"] = "".join(sorted(set("".join(IUPAC_AA.values())))) + "X"

_SUBST = re.compile(r"^(.*?[A-Z*]?)(\d+)([^\d:]+)$")


def seguid(seq: str) -> str:
    return base64.b64encode(hashlib.sha1(seq.upper().encode()).digest()).decode().rstrip("=")


def is_dna(tok: str) -> bool:
    return ":" not in tok or tok.startswith("del:")


def expand(tok: str) -> set[str]:
    """A token and every token its terminal ambiguity letter stands for."""
    if "del:" in tok:
        return {tok}
    m = _SUBST.match(tok)
    if not m or len(m.group(3)) != 1:
        return {tok}
    table = IUPAC_NT if is_dna(tok) else IUPAC_AA
    head, pos, alt = m.groups()
    return {f"{head}{pos}{a}" for a in table.get(alt, alt)}


def _groups(groups: list[list[str]]) -> list[list[str]]:
    extra = []
    for g in groups:
        for t in g:
            if (is_dna(t) and t.endswith("N")) or (not is_dna(t) and t.endswith("X")):
                extra.extend([v] for v in sorted(expand(t)))
    out: dict[tuple, None] = {}
    for g in groups + extra:
        out.setdefault(tuple(g), None)
    return [list(g) for g in out]


def _field(profile: set[str], toks: list[str], wildcard: str, negate: bool) -> bool:
    atoms = [bool(expand(t) & profile) != negate for t in toks]
    return any(atoms) if any(t.endswith(wildcard) for t in toks) else all(atoms)


def profile_pred(groups: list[list[str]], dna: set[str], aa: set[str], negate: bool) -> bool:
    results = []
    for g in _groups(groups):
        parts = []
        d = sorted({t for t in g if is_dna(t)})
        a = sorted({t for t in g if not is_dna(t)})
        if d:
            parts.append(_field(dna, d, "N", negate))
        if a:
            parts.append(_field(aa, a, "X", negate))
        if parts:
            results.append(all(parts))
    return any(results) if results else True


def closure(children: dict[str, list[str]], roots: list[str]) -> set[str]:
    out, todo = set(), list(roots)
    while todo:
        x = todo.pop()
        if x not in out:
            out.add(x)
            todo.extend(children.get(x, []))
    return out


def _in_dates(d: datetime.date | None, specs: list[str]) -> bool | None:
    if d is None:
        return None
    for s in specs:
        a, _, b = s.partition(":")
        lo = datetime.date.fromisoformat(a)
        hi = datetime.date.fromisoformat(b) if b else lo
        if lo <= d <= hi:
            return True
    return False


class StoreModel:
    """The store's committed genomes ⟕ profiles, read from parquet."""

    def __init__(self, genome_files: list[str], profile_files: list[str]):
        self.rows = pq.read_table([f.removeprefix("file:") for f in genome_files]).to_pylist() \
            if genome_files else []
        prof = pq.read_table([f.removeprefix("file:") for f in profile_files]).to_pylist() \
            if profile_files else []
        self.profiles = {p["seqhash"]: p for p in prof}

    def match_count(self, q, children: dict[str, list[str]]) -> int:
        inc_lin = closure(children, q.lineages) if q.with_sublineage else set(q.lineages)
        n = 0
        for r in self.rows:
            p = self.profiles.get(r["seqhash"], {})
            dna, aa = set(p.get("dna_profile") or ()), set(p.get("aa_profile") or ())
            fs = p.get("fs_profile") or []
            if q.profiles and not profile_pred(q.profiles, dna, aa, False):
                continue
            if q.exclude_profiles and not profile_pred(q.exclude_profiles, dna, aa, True):
                continue
            if q.lineages and r["lineage"] not in inc_lin:
                continue
            if q.labs and r["lab"] not in {x.upper() for x in q.labs}:
                continue
            if q.zips and not (r["zip"] and any(r["zip"].startswith(z) for z in q.zips)):
                continue
            if q.dates and not _in_dates(r["date"], q.dates):
                continue
            if q.min_ct is not None and not (r["ct"] is not None and r["ct"] >= q.min_ct):
                continue
            if q.max_ct is not None and not (r["ct"] is not None and r["ct"] <= q.max_ct):
                continue
            if q.frameshifts == 1 and not fs:
                continue
            if q.frameshifts == -1 and fs:
                continue
            n += 1
        return n


def check_match(q, rows, model: StoreModel, children: dict[str, list[str]]) -> list[str]:
    """The engine's answer (rows, or the single ``count`` row) against
    the model's count."""
    got = rows[0]["count"] if q.count else len(rows)
    want = model.match_count(q, children)
    return [] if got == want else [f"{q}: engine {got} rows, oracle {want}"]


def check_ingest(report: dict, truth: dict) -> list[str]:
    errs = []
    if report.get("errors"):
        errs.append(f"errors: {list(report['errors'].items())[:3]}")
    if report.get("paranoid_mismatches") != []:
        errs.append(f"paranoid mismatches: {report.get('paranoid_mismatches')}")
    for k, v in truth.items():
        if report.get(k) != v:
            errs.append(f"{k}: store {report.get(k)} != generator {v}")
    return errs


def check_restore(rows, seqhash_of: dict[str, str], wanted: set[str]) -> list[str]:
    """Every wanted accession restored once, each SEGUID equal to the
    stored seqhash."""
    errs = []
    got = [r["accession"] for r in rows]
    if sorted(got) != sorted(wanted):
        errs.append(f"restored {len(got)} records for {len(wanted)} accessions")
    bad = [r["accession"] for r in rows if seguid(r["sequence"]) != seqhash_of.get(r["accession"])]
    if bad:
        errs.append(f"SEGUID mismatch for {bad[:5]}")
    return errs


def vcf_type(ref: str, alt: str) -> str:
    if len(ref) == 1 and len(alt) == 1:
        return "SNP"
    if len(ref) < len(alt):
        return "INS" if alt[0] == ref else "INDEL"
    if len(ref) > len(alt) and ref:
        return "DEL"
    return "Unknown"


def expected_vcf(genome_rows, variant_files: list[str], accessions: set[str],
                 ref_len: int) -> tuple[int, set[str]]:
    """(site count, sample set) of a merged VCF over ``accessions``:
    distinct (pos, type) among non-deletion calls."""
    by_hash: dict[str, list[str]] = {}
    for r in genome_rows:
        if r["accession"] in accessions:
            by_hash.setdefault(r["seqhash"], []).append(r["accession"])
    sites, samples = set(), set()
    tab = pq.read_table([f.removeprefix("file:") for f in variant_files],
                        columns=["seqhash", "start", "ref", "alt"])
    for h, s, ref, alt in zip(*(tab.column(c).to_pylist() for c in ("seqhash", "start", "ref", "alt"))):
        if h not in by_hash or alt == "" or not 1 <= s + 1 <= ref_len:
            continue
        t = vcf_type(ref, alt)
        if t == "Unknown":
            continue
        sites.add((s + 1, t))
        samples.update(by_hash[h])
    return len(sites), samples


def check_vcf(path: str, n_sites: int, samples: set[str]) -> list[str]:
    header, lines = None, 0
    with open(path) as fh:
        for line in fh:
            if line.startswith("#CHROM"):
                header = line.rstrip("\n").split("\t")[9:]
            elif not line.startswith("#"):
                lines += 1
    errs = []
    if header is None or set(header) != samples:
        errs.append(f"VCF has {len(header or [])} sample columns, expected {len(samples)}")
    if lines != n_sites:
        errs.append(f"VCF has {lines} sites, expected {n_sites}")
    return errs
