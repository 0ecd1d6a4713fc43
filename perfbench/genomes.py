"""Seeded generator for the genomic workloads: a synthetic reference,
its GFF3 annotation, a lineage tree, a lineage-structured cohort and the
cohort's metadata TSV.  Nothing is downloaded; the same seed always
writes byte-identical files.

Run alone to write one input set:  python3 perfbench/genomes.py OUT_DIR [SEED]
"""

from __future__ import annotations

import datetime
import os
import random
import sys
from dataclasses import dataclass, field

REF_LEN = 29_903
REF_ACC = "SYN000001.1"

# (symbol, start0, coding length incl. stop).  ORF1b is the two-exon
# ribosomal-slippage CDS: its second exon starts one base before the
# first one ends, so that base is translated twice.
CDS_LAYOUT = (
    ("ORF1b", 265, 21_291),
    ("S", 21_562, 3_822),
    ("ORF3a", 25_392, 828),
    ("E", 26_244, 228),
    ("M", 26_522, 669),
    ("N", 28_273, 1_260),
)
SLIP_AT = 13_203          # ORF1b exon 1 length (the slippage point)
STOPS = frozenset({"TAA", "TAG", "TGA"})

# cohort shape; the share constants are what BENCHMARK.json states
DUPLICATE_SHARE = 0.10    # exact copies of an earlier genome, new accession
EMPTY_SHARE = 0.01        # header-only records (skipped by ingest)
FRAMESHIFT_SHARE = 0.08   # genomes with a private in-CDS frameshift indel
NRUN_SHARE = 0.30         # genomes with an N run
IUPAC_SHARE = 0.20        # genomes with one or two IUPAC ambiguity codes
PRIVATE_SNPS = (2, 8)

LABS = ("LABA", "LABB", "LABC", "LABD", "LABE", "LABF")
SOURCES = ("PUBLIC", "CLINIC", "SURVEILLANCE")
PLATFORMS = ("ILLUMINA", "NANOPORE", "IONTORRENT")
FIRST_DATE = datetime.date(2021, 1, 1)
N_DAYS = 540

# source column name in the TSV -> engine column (read_metadata_csv map)
TSV_COLUMNS = (
    ("sample_id", "accession"), ("pango", "lineage"),
    ("collection_date", "date"), ("submitted", "submission_date"),
    ("postcode", "zip"), ("lab_name", "lab"), ("ct_value", "ct"),
    ("origin", "source"), ("seq_platform", "platform"),
    ("seq_tech", "technology"), ("library", "chemistry"),
    ("specimen", "material"), ("assembler", "software"),
    ("assembler_version", "software_version"),
    ("gisaid_id", "gisaid"), ("ena_id", "ena"),
)
METADATA_FIELDS = {engine: src for src, engine in TSV_COLUMNS}


@dataclass
class Mutation:
    kind: str          # "snp" | "del" | "ins"
    pos: int           # 0-based reference position
    ref: str
    alt: str           # snp: alt base; ins: inserted bases; del: ""
    length: int = 1    # del: deleted length

    @property
    def token(self) -> str:
        """covsonar nt token of this mutation (1-based coordinates)."""
        if self.kind == "snp":
            return f"{self.ref}{self.pos + 1}{self.alt}"
        if self.kind == "del":
            return f"del:{self.pos + 1}:{self.length}"
        return f"{self.ref}{self.pos + 1}{self.ref}{self.alt}"


@dataclass
class Genome:
    accession: str
    lineage: str
    sequence: str
    duplicate_of: str | None = None
    frameshift: bool = False
    meta: dict = field(default_factory=dict)


@dataclass
class Inputs:
    reference: str
    gff3: str
    lineages: dict[str, list[Mutation]]     # own defining mutations
    parents: dict[str, str | None]
    sublineages: dict[str, list[str]]        # parent -> direct children
    batches: list[list[Genome]]

    @property
    def genomes(self) -> list[Genome]:
        return [g for b in self.batches for g in b]


def _codon(rng: random.Random) -> str:
    while True:
        c = "".join(rng.choice("ACGT") for _ in range(3))
        if c not in STOPS:
            return c


def _coding(rng: random.Random, length: int) -> str:
    body = "".join(_codon(rng) for _ in range(length // 3 - 2))
    return "ATG" + body + rng.choice(sorted(STOPS))


def make_reference(rng: random.Random) -> tuple[str, list[tuple[str, list[tuple[int, int]]]]]:
    """Random reference with stop-free CDS bodies; returns the sequence
    and each CDS's 0-based end-exclusive exon list."""
    seq = [rng.choice("ACGT") for _ in range(REF_LEN)]
    cds = []
    for sym, start, length in CDS_LAYOUT:
        if sym == "ORF1b":
            # the shared base: coding[SLIP_AT - 1] is read again as
            # coding[SLIP_AT]; redraw until the forced copy makes no stop
            while True:
                coding = list(_coding(rng, length))
                coding[SLIP_AT] = coding[SLIP_AT - 1]
                c = "".join(coding)
                if not any(c[i:i + 3] in STOPS
                           for i in range(0, len(c) - 3, 3)):
                    break
            genomic = c[:SLIP_AT] + c[SLIP_AT + 1:]
            exons = [(start, start + SLIP_AT),
                     (start + SLIP_AT - 1, start + len(genomic))]
        else:
            genomic = _coding(rng, length)
            exons = [(start, start + length)]
        seq[start:start + len(genomic)] = genomic
        cds.append((sym, exons))
    return "".join(seq), cds


def gff3_text(cds: list[tuple[str, list[tuple[int, int]]]]) -> str:
    lines = ["##gff-version 3", f"##sequence-region {REF_ACC} 1 {REF_LEN}"]
    for i, (sym, exons) in enumerate(cds):
        for s, e in exons:
            lines.append("\t".join([
                REF_ACC, "Synthetic", "CDS", str(s + 1), str(e), ".", "+",
                "0", f"ID=cds-{sym};gene={sym};locus_tag=GU{i:03d}"]))
    return "\n".join(lines) + "\n"


class _Sites:
    """Reference positions already mutated, kept apart so that no two
    mutations of one genome interact (each is then called exactly as
    generated and its token is unambiguous)."""

    def __init__(self, taken: set[int] | None = None):
        self.taken = set(taken or ())

    def free(self, pos: int, span: int, gap: int = 12) -> bool:
        return all(p not in self.taken for p in range(pos - gap, pos + span + gap))

    def take(self, pos: int, span: int) -> None:
        self.taken.update(range(pos, pos + span))


def _snp(ref: str, rng: random.Random, sites: _Sites) -> Mutation:
    while True:
        p = rng.randrange(300, REF_LEN - 300)
        if sites.free(p, 1):
            sites.take(p, 1)
            return Mutation("snp", p, ref[p], rng.choice([b for b in "ACGT" if b != ref[p]]))


def _indel(ref: str, rng: random.Random, sites: _Sites, length: int,
           kind: str, lo: int = 300, hi: int = REF_LEN - 300) -> Mutation:
    """A deletion or insertion whose left-aligned call is where it was
    placed: no base repeats across the edit boundary."""
    while True:
        p = rng.randrange(lo, hi)
        if not sites.free(p, length):
            continue
        if kind == "del":
            if ref[p - 1] == ref[p + length - 1] or ref[p] == ref[p + length]:
                continue
            sites.take(p, length)
            return Mutation("del", p, ref[p:p + length], "", length)
        ins = "".join(rng.choice("ACGT") for _ in range(length))
        if ins[-1] == ref[p] or ins[0] == ref[p + 1]:
            continue
        sites.take(p, 2)
        return Mutation("ins", p, ref[p], ins)


def make_lineages(ref: str, rng: random.Random, sites: _Sites):
    """A small pango-like tree: two roots, dotted descendants.  Each
    lineage defines a few SNPs and at most one codon-sized indel."""
    names = ["A", "B", "A.1", "B.1", "B.1.1", "B.1.2", "B.1.1.7",
             "B.1.1.7.1", "B.1.2.5", "A.1.3", "B.1.351", "B.1.617.2"]
    parents: dict[str, str | None] = {}
    for n in names:
        parent = n.rsplit(".", 1)[0] if "." in n else None
        while parent is not None and parent not in names:
            parent = parent.rsplit(".", 1)[0] if "." in parent else None
        parents[n] = parent
    own: dict[str, list[Mutation]] = {}
    for n in names:
        muts = [_snp(ref, rng, sites) for _ in range(rng.randint(3, 6))]
        if rng.random() < 0.6:
            muts.append(_indel(ref, rng, sites, rng.choice((3, 6, 9)),
                               rng.choice(("del", "ins"))))
        own[n] = muts
    children: dict[str, list[str]] = {}
    for n, p in parents.items():
        if p is not None:
            children.setdefault(p, []).append(n)
    return own, parents, children


def lineage_mutations(lin: str, own, parents) -> list[Mutation]:
    out = []
    while lin is not None:
        out.extend(own[lin])
        lin = parents[lin]
    return out


def _coding_window(exons: list[tuple[int, int]]) -> tuple[int, int]:
    return min(s for s, _ in exons) + 30, max(e for _, e in exons) - 30


def make_genome(ref: str, lin_muts: list[Mutation], rng: random.Random,
                cds) -> tuple[str, bool]:
    sites = _Sites({p for m in lin_muts for p in range(m.pos, m.pos + max(m.length, 2))})
    muts = list(lin_muts)
    muts += [_snp(ref, rng, sites) for _ in range(rng.randint(*PRIVATE_SNPS))]
    frameshift = rng.random() < FRAMESHIFT_SHARE
    if frameshift:
        lo, hi = _coding_window(rng.choice(cds)[1])
        muts.append(_indel(ref, rng, sites, rng.choice((1, 2, 4, 5)),
                           rng.choice(("del", "ins")), lo, hi))
    iupac = []
    if rng.random() < IUPAC_SHARE:
        for _ in range(rng.randint(1, 2)):
            m = _snp(ref, rng, sites)
            iupac.append((m.pos, rng.choice("RYKMSW")))
    nrun = None
    if rng.random() < NRUN_SHARE:
        n = rng.randint(10, 120)
        while True:
            p = rng.randrange(400, REF_LEN - 400 - n)
            if sites.free(p, n):
                sites.take(p, n)
                nrun = (p, n)
                break
    # point edits first (same length), then indels from the right
    seq = list(ref)
    for p, code in iupac:
        seq[p] = code
    if nrun:
        p, n = nrun
        seq[p:p + n] = "N" * n
    for m in muts:
        if m.kind == "snp":
            seq[m.pos] = m.alt
    for m in sorted((m for m in muts if m.kind != "snp"), key=lambda m: -m.pos):
        if m.kind == "del":
            del seq[m.pos:m.pos + m.length]
        else:
            seq[m.pos] = m.ref + m.alt
    return "".join(seq), frameshift


def _metadata(acc: str, lineage: str, rng: random.Random) -> dict:
    day = FIRST_DATE + datetime.timedelta(days=rng.randrange(N_DAYS))
    return {
        "accession": acc, "lineage": lineage, "date": day.isoformat(),
        "submission_date": (day + datetime.timedelta(days=rng.randint(2, 30))).isoformat(),
        "zip": f"{rng.randint(1, 9)}{rng.randint(0, 9)}{rng.randint(0, 999):03d}",
        "lab": rng.choice(LABS), "ct": f"{rng.uniform(14.0, 36.0):.1f}",
        "source": rng.choice(SOURCES), "platform": rng.choice(PLATFORMS),
        "technology": "AMPLICON", "chemistry": rng.choice(("V3", "V4", "V4.1")),
        "material": "SWAB", "software": "ASSEMBLER",
        "software_version": rng.choice(("1.0", "1.1", "2.0")),
        "gisaid": f"EPI_ISL_{rng.randint(10**6, 10**7)}", "ena": f"ERR{rng.randint(10**6, 10**7)}",
    }


def generate(seed: int, batch_sizes: list[int]) -> Inputs:
    """One cohort split into ``batch_sizes`` FASTA batches.  Accession
    names are unique across batches; duplicates copy an earlier genome
    of any batch."""
    rng = random.Random(seed)
    ref, cds = make_reference(rng)
    own, parents, children = make_lineages(ref, rng, _Sites())
    names = list(own)
    # skewed lineage popularity, as in real surveillance data
    weights = [1.0 / (i + 1) ** 0.7 for i in range(len(names))]
    cache = {n: lineage_mutations(n, own, parents) for n in names}
    made: list[Genome] = []
    batches = []
    k = 0
    for size in batch_sizes:
        batch = []
        for _ in range(size):
            acc = f"SYN{seed % 1000:03d}_{k:06d}"
            k += 1
            u = rng.random()
            if u < EMPTY_SHARE:
                g = Genome(acc, rng.choice(names), "")
            elif u < EMPTY_SHARE + DUPLICATE_SHARE and made:
                src = rng.choice(made)
                g = Genome(acc, src.lineage, src.sequence, duplicate_of=src.accession,
                           frameshift=src.frameshift)
            else:
                lin = rng.choices(names, weights)[0]
                seq, fs = make_genome(ref, cache[lin], rng, cds)
                g = Genome(acc, lin, seq, frameshift=fs)
                made.append(g)
            g.meta = _metadata(acc, g.lineage, rng)
            batch.append(g)
        batches.append(batch)
    return Inputs(ref, gff3_text(cds), own, parents, children, batches)


def fasta_text(genomes: list[Genome], width: int = 70) -> str:
    out = []
    for g in genomes:
        out.append(f">{g.accession} synthetic {g.lineage}\n")
        for i in range(0, len(g.sequence), width):
            out.append(g.sequence[i:i + width] + "\n")
    return "".join(out)


def tsv_text(genomes: list[Genome]) -> str:
    head = "\t".join(src for src, _ in TSV_COLUMNS)
    rows = ["\t".join(g.meta[eng] for _, eng in TSV_COLUMNS) for g in genomes]
    return head + "\n" + "\n".join(rows) + "\n"


def sublineage_text(children: dict[str, list[str]]) -> str:
    """lineage<TAB>comma-separated direct sublineages, sorted."""
    return "".join(f"{p}\t{','.join(sorted(c))}\n" for p, c in sorted(children.items()))


def write(inputs: Inputs, out_dir: str) -> dict[str, str]:
    """Write reference, GFF3, sublineage map and one FASTA + TSV per
    batch; returns the paths by role."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"ref": os.path.join(out_dir, "ref.fna"),
             "gff3": os.path.join(out_dir, "ref.gff3"),
             "sublineages": os.path.join(out_dir, "sublineages.tsv")}
    with open(paths["ref"], "w") as fh:
        fh.write(fasta_text([Genome(REF_ACC, "", inputs.reference)]))
    with open(paths["gff3"], "w") as fh:
        fh.write(inputs.gff3)
    with open(paths["sublineages"], "w") as fh:
        fh.write(sublineage_text(inputs.sublineages))
    for i, batch in enumerate(inputs.batches):
        paths[f"fasta{i}"] = os.path.join(out_dir, f"batch{i:03d}.fasta")
        paths[f"tsv{i}"] = os.path.join(out_dir, f"batch{i:03d}.tsv")
        with open(paths[f"fasta{i}"], "w") as fh:
            fh.write(fasta_text(batch))
        with open(paths[f"tsv{i}"], "w") as fh:
            fh.write(tsv_text(batch))
    return paths


def truth(batch: list[Genome], known_seqs: set[str]) -> dict:
    """Ground truth of one add_fasta_df over ``batch`` given the
    sequences already stored; updates ``known_seqs``."""
    nonempty = [g for g in batch if g.sequence]
    new = {g.sequence for g in nonempty} - known_seqs
    known_seqs.update(new)
    return {"added_accessions": len(nonempty), "new_sequences": len(new),
            "skipped_empty": len(batch) - len(nonempty)}


if __name__ == "__main__":
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    print(write(generate(seed, [256]), out))
