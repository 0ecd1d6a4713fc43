"""The benchmark's own tests: generator self-checks, the result line
against BENCHMARK.json, the event-log fold, and that corrupted results
fail their checks.  No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import genomes as G  # noqa: E402
import oracle as O  # noqa: E402
import run as R  # noqa: E402
import spans as S  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# -- generator -----------------------------------------------------------------

def test_same_seed_writes_identical_files(tmp_path):
    a = G.write(G.generate(5, [60, 20]), str(tmp_path / "a"))
    b = G.write(G.generate(5, [60, 20]), str(tmp_path / "b"))
    assert set(a) >= {"ref", "gff3", "sublineages", "fasta0", "tsv0", "fasta1", "tsv1"}
    for role in a:
        assert filecmp.cmp(a[role], b[role], shallow=False), role
    c = G.write(G.generate(6, [60, 20]), str(tmp_path / "c"))
    assert not filecmp.cmp(a["fasta0"], c["fasta0"], shallow=False)


def test_gff3_yields_every_cds_without_internal_stops(tmp_path):
    from covsonar_spark.functions.genetics import parse_gff3

    inp = G.generate(3, [4])
    paths = G.write(inp, str(tmp_path))
    cds = parse_gff3(paths["gff3"], inp.reference)
    assert [c.symbol for c in cds] == [sym for sym, _, _ in G.CDS_LAYOUT]
    slip = [c for c in cds if len(c.coords) == 2]
    assert len(slip) == 1
    (_, e1), (s2, _) = slip[0].coords
    assert s2 == e1 - 1, "ribosomal-slippage exons overlap by one base"
    for c in cds:
        assert c.aa.startswith("M") and c.aa.endswith("*"), c.symbol
        assert "*" not in c.aa[:-1], f"internal stop in {c.symbol}"


def test_cohort_shares_match_what_the_benchmark_states():
    why = next(w["why"] for w in SPEC["workloads"] if w["name"] == "ingest")
    stated = {k: int(v) / 100 for v, k in re.findall(r"(\d+)% (duplicates|empty)", why)}
    assert stated == {"duplicates": G.DUPLICATE_SHARE, "empty": G.EMPTY_SHARE}
    cohort = G.generate(9, [3000]).genomes
    dup = sum(g.duplicate_of is not None for g in cohort) / len(cohort)
    empty = sum(not g.sequence for g in cohort) / len(cohort)
    assert abs(dup - G.DUPLICATE_SHARE) < 0.02
    assert abs(empty - G.EMPTY_SHARE) < 0.006
    known: set[str] = set()
    truth = G.truth(cohort, known)
    assert truth["skipped_empty"] == len(cohort) - truth["added_accessions"]
    assert truth["new_sequences"] < truth["added_accessions"]


# -- result line -----------------------------------------------------------------

def _names(section):
    return [m["name"] for m in SPEC[section]]


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_carries_exactly_the_declared_metrics(trace):
    section = "per_layer" if trace else "end_to_end"
    values = {n: 1.5 for n in _names(section)}
    line = R.result_line(SPEC, bool(trace), values, attempted=3, failed=1, correct=True)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == _names(section)
    for m in SPEC[section]:
        assert out["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_workloads_produce_only_declared_metric_names():
    """Every layer name the workloads assign is declared, and every
    declared one is assigned somewhere."""
    src = open(os.path.join(HERE, "workloads.py")).read() + open(os.path.join(HERE, "harness.py")).read()
    made = set(re.findall(r'(?:L|self\.layer|run\.layer)\["([a-z0-9_.]+)"\]', src))
    for p in ("analysis", "optimization", "planning"):
        made |= {f"match.{p}_s", f"registry.{p}_s"}
    made |= {f"exec.{k}" for k in S.EXEC_KEYS}
    assert made == set(_names("per_layer"))
    e2e = set(re.findall(r'"([a-z_0-9]+)": ', src[src.index("def ingest("):])) & set(_names("end_to_end"))
    assert e2e == set(_names("end_to_end"))


def test_spec_honours_the_contract_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8 and all(len(w["why"]) <= 200 for w in SPEC["workloads"])
    assert "setup_s" in _names("end_to_end")
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    names = _names("end_to_end") + _names("per_layer")
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


# -- event-log fold ----------------------------------------------------------------

def test_event_log_jobs_fold_onto_the_innermost_span(tmp_path):
    tr = S.Tracer()
    with tr.span("window") as win:
        with tr.span("op.match") as op:
            with tr.span("match.exec") as ex:
                pass
    win.start, win.end = 100.0, 110.0
    op.start, op.end = 101.0, 105.0
    ex.start, ex.end = 102.0, 104.0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 120000, "Stage IDs": [3]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10 ** 9, "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
            "Input Metrics": {"Bytes Read": 13}, "Output Metrics": {"Bytes Written": 17}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 103500},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert S.event_log_file(str(tmp_path)) == str(log)
    jobs = S.read_event_log(str(log))
    S.attribute(tr, jobs, win)
    assert [j.id for j in op.jobs] == [0] and [j.id for j in ex.jobs] == [1]
    tot = S.exec_totals(S.jobs_under(tr, win))
    assert tot == {"jobs": 2, "stages": 1, "tasks": 1, "task_run_s": 1.5, "task_cpu_s": 1.0,
                   "gc_s": 0.1, "shuffle_read_bytes": 12, "shuffle_write_bytes": 11,
                   "spill_bytes": 3, "input_bytes": 13, "output_bytes": 17}
    assert tr.self_time(op) == pytest.approx(op.dur - ex.dur)


# -- corrupted results fail their checks --------------------------------------------

def _store_model(tmp_path):
    import datetime

    genomes = pa.table({
        "accession": ["a1", "a2", "a3", "a4"],
        "seqhash": ["h1", "h2", "h3", "h1"],
        "lineage": ["B.1", "B.1.1", "A", "B.1"],
        "zip": ["10115", "20095", "10117", "80331"],
        "date": [datetime.date(2021, 3, d) for d in (1, 2, 3, 4)],
        "lab": ["LABA", "LABB", "LABA", "LABC"],
        "ct": [20.0, 25.0, 30.0, 35.0],
    })
    profiles = pa.table({
        "seqhash": ["h1", "h2", "h3"],
        "dna_profile": [["C10T", "del:20:3"], ["C10T", "G30A"], ["C10N"]],
        "aa_profile": [["S:N5Y"], [], ["S:N5X"]],
        "fs_profile": [[], ["S:del:20:3"], []],
    })
    pq.write_table(genomes, tmp_path / "g.parquet")
    pq.write_table(profiles, tmp_path / "p.parquet")
    return O.StoreModel([f"file:{tmp_path}/g.parquet"], [f"file:{tmp_path}/p.parquet"])


def test_match_oracle_semantics(tmp_path):
    from covsonar_spark.operators.match import MatchQuery

    model = _store_model(tmp_path)
    kids = {"B.1": ["B.1.1"]}
    cases = [
        (MatchQuery(profiles=[["C10T"]]), 3),
        (MatchQuery(profiles=[["C10T", "G30A"]]), 1),
        (MatchQuery(profiles=[["C10T"]], exclude_profiles=[["G30A"]]), 2),
        (MatchQuery(profiles=[["C10Y"]]), 3),          # Y covers T
        (MatchQuery(profiles=[["C10N"]]), 4),          # any change at 10
        (MatchQuery(profiles=[["S:N5X"]]), 3),
        (MatchQuery(lineages=["B.1"], with_sublineage=True), 3),
        (MatchQuery(lineages=["B.1"]), 2),
        (MatchQuery(zips=["10"], dates=["2021-03-02:2021-03-04"]), 1),
        (MatchQuery(min_ct=22, max_ct=31, labs=["laba"]), 1),
        (MatchQuery(frameshifts=1), 1),
        (MatchQuery(frameshifts=-1, count=True), 3),
    ]
    for q, want in cases:
        assert model.match_count(q, kids) == want, q


def test_dropped_match_row_fails_its_check(tmp_path):
    from covsonar_spark.operators.match import MatchQuery

    model = _store_model(tmp_path)
    q = MatchQuery(profiles=[["C10T"]])
    rows = [{"accession": a} for a in ("a1", "a2", "a4")]
    assert O.check_match(q, rows, model, {}) == []
    assert O.check_match(q, rows[:-1], model, {}) != []
    qc = MatchQuery(profiles=[["C10T"]], count=True)
    assert O.check_match(qc, [{"count": 3}], model, {}) == []
    assert O.check_match(qc, [{"count": 2}], model, {}) != []


def test_flipped_restored_base_fails_its_check():
    seqs = {"a1": "ACGTNACGT", "a2": "TTGACA"}
    hashes = {a: O.seguid(s) for a, s in seqs.items()}
    rows = [{"accession": a, "sequence": s} for a, s in seqs.items()]
    assert O.check_restore(rows, hashes, set(seqs)) == []
    flipped = [dict(rows[0], sequence="ACGTNACGA"), rows[1]]
    assert O.check_restore(flipped, hashes, set(seqs)) != []
    assert O.check_restore(rows[:1], hashes, set(seqs)) != []


def test_ingest_report_check_flags_every_deviation():
    truth = {"added_accessions": 5, "new_sequences": 4, "skipped_empty": 1}
    good = dict(truth, errors={}, paranoid_mismatches=[])
    assert O.check_ingest(good, truth) == []
    assert O.check_ingest(dict(good, new_sequences=5), truth) != []
    assert O.check_ingest(dict(good, paranoid_mismatches=["a1"]), truth) != []
    assert O.check_ingest(dict(good, errors={"h": "boom"}), truth) != []


def test_vcf_check_counts_sites_and_samples(tmp_path):
    vcf = tmp_path / "x.vcf"
    vcf.write_text("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ta1\ta2\n"
                   "c\t10\t.\tC\tT\t.\t.\t.\tGT\t1\t.\nc\t20\t.\tG\tGA\t.\t.\t.\tGT\t.\t1\n")
    assert O.check_vcf(str(vcf), 2, {"a1", "a2"}) == []
    assert O.check_vcf(str(vcf), 3, {"a1", "a2"}) != []
    assert O.check_vcf(str(vcf), 2, {"a1", "a2", "a3"}) != []


def test_token_expansion_agrees_with_the_engine_grammar():
    from covsonar_spark.functions import tokens as TK

    for tok in ("C241T", "C241Y", "C241N", "del:21765:6", "C40CTT"):
        assert O.expand(tok) == TK.pinpoint_mutation(tok, TK.IUPAC_NT), tok
    for tok in ("S:N501Y", "S:N501X", "S:del:69:2"):
        assert O.expand(tok) == TK.pinpoint_mutation(tok, TK.IUPAC_AA), tok
