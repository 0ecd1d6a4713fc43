"""The two workloads.  Each is closed-loop with one client: the next
operation starts when the previous one returns.  Each returns its
end-to-end metrics; a traced run also fills ``run.layer``.  The traced
screen run also times the registry layers (``_registry_probe``).

Sizes are fixed here and stated in perfbench/README.md.
"""

from __future__ import annotations

import datetime
import os
import random
import time

import genomes as G
import oracle as O
from harness import Run, dir_usage, op_wall, p50, p90, query_phases
from spans import attribute, coverage, event_log_file, exec_totals, jobs_under, read_event_log

# Every window is a fixed operation mix, the same for every seed and
# host: a traced run repeats it once more with the event log on.  The
# sizes below put the untraced window at about 20-25 s on a busy 4-core
# host; set-up (30-40 s) warms every timed operation once.
INGEST_WARM = 16          # genomes in the warm-up batch (set-up)
INGEST_BATCH = 160        # genomes per timed batch
INGEST_BATCHES = 3        # timed batches per window
SCREEN_BASE = 128         # genomes in the store screen builds in set-up
SCREEN_TRICKLE = 16       # genomes per trickle add
SCREEN_TEMPLATES = 10     # match templates; set-up runs one query of each
SCREEN_CYCLE = 6          # matches per cycle; a trickle add between cycles
SCREEN_CYCLES = 2         # cycles per window (12 matches, 1 trickle add)
RESTORE_SAMPLES = 64      # genomes per restore
VCF_SAMPLES = 48          # samples per VCF export
TAIL_ROUNDS = 2           # restore + VCF export rounds, each on its own subsets
FASTA_PARTITIONS = 8


# -- shared pieces -------------------------------------------------------------

def _inputs(run: Run, sizes: list[int]):
    with run.tracer.span("setup.generate"):
        inp = G.generate(run.seed, sizes)
        paths = G.write(inp, os.path.join(run.work, "inputs"))
    from covsonar_spark.functions.genetics import parse_gff3

    cds = parse_gff3(paths["gff3"], inp.reference)
    return inp, paths, cds


def _store(run: Run, name: str, inp, cds):
    from covsonar_spark.store import SonarStore

    return SonarStore(run.spark, os.path.join(run.work, name), inp.reference, cds,
                      inp.sublineages)


def _add_batch(run: Run, st, fasta: str, tsv: str):
    """One write-path batch: FASTA scan → add_fasta_df (paranoid) →
    metadata read → update_metadata.  Returns (report, updated)."""
    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.sources.metadata import read_metadata_csv

    tr = run.tracer
    with tr.span("sources.fasta"):
        records = read_fasta(run.spark, fasta, partitions=FASTA_PARTITIONS)
    with tr.span("store.add"):
        report = st.add_fasta_df(records, paranoid=True)
    with tr.span("sources.metadata"):
        upd = read_metadata_csv(run.spark, tsv, G.METADATA_FIELDS, sep="\t")
    with tr.span("store.update_metadata"):
        n = st.update_metadata(upd)
    return report, n


def _check_batch(run: Run, name: str, report, updated, batch, known: set[str]) -> None:
    truth = G.truth(batch, known)
    errs = O.check_ingest(report, truth)
    if updated != truth["added_accessions"]:
        errs.append(f"update_metadata matched {updated}, expected {truth['added_accessions']}")
    run.check(name, errs)


def _ingest_probes(run: Run, st, fasta: str, tsv: str, accessions: list[str]) -> None:
    """Layers timed alone (traced run only): the FASTA scan, the metadata
    read, the align/diff UDF over the batch's distinct sequences, and a
    paranoid-equivalent restore of the batch."""
    from pyspark.sql import functions as F

    from covsonar_spark.operators.ingest import derive_profiles, harmonized, seguid_col
    from covsonar_spark.operators.restore import restore_genomes
    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.sources.metadata import read_metadata_csv

    tr = run.tracer
    records = read_fasta(run.spark, fasta, partitions=FASTA_PARTITIONS)
    with tr.span("probe.fasta_scan"):
        records.write.format("noop").mode("overwrite").save()
    with tr.span("probe.metadata_read"):
        read_metadata_csv(run.spark, tsv, G.METADATA_FIELDS, sep="\t") \
            .write.format("noop").mode("overwrite").save()
    seqs = (records.select(harmonized(F.col("sequence")).alias("sequence"))
            .where(F.length("sequence") > 0)
            .withColumn("seqhash", seguid_col("sequence"))
            .dropDuplicates(["seqhash"]).localCheckpoint())
    n = seqs.count()
    with tr.span("probe.align_udf", n=n):
        derive_profiles(seqs, st.ref_seq, st.cds_list).write.format("noop").mode("overwrite").save()
    with tr.span("probe.restore_batch"):
        restore_genomes(st, accessions).write.format("noop").mode("overwrite").save()


def _write_layers(run: Run, st, window) -> None:
    """Write-path layer numbers from the spans of ``window``."""
    tr, L = run.tracer, run.layer
    adds = [s for s in tr.named("store.add", window) if "report" in s.attrs]
    reports = [s.attrs["report"] for s in adds]
    L["store.add_s"] = p50([tr.self_time(s) for s in adds])
    L["store.update_metadata_s"] = p50([s.dur for s in tr.named("store.update_metadata", window)])
    L["store.files_written"] = p50([s.attrs["files"] for s in adds if "files" in s.attrs])
    L["store.bytes_written"] = p50([s.attrs["bytes"] for s in adds if "bytes" in s.attrs])
    added = sum(r["added_accessions"] for r in reports)
    L["ingest.dedup_ratio"] = sum(r["new_sequences"] for r in reports) / added if added else 0.0
    L["ingest.errors"] = sum(len(r["errors"]) for r in reports)
    _log_layers(run, st)


def _log_layers(run: Run, st) -> None:
    run.layer["commitlog.versions"] = len(st.history())
    run.layer["commitlog.log_bytes"] = dir_usage(
        os.path.join(st.root.removeprefix("file:"), "_log"))[1]


def _probe_layers(run: Run) -> None:
    tr, L = run.tracer, run.layer
    L["sources.fasta.scan_s"] = p50([s.dur for s in tr.named("probe.fasta_scan")])
    L["sources.metadata.read_s"] = p50([s.dur for s in tr.named("probe.metadata_read")])
    udf = tr.named("probe.align_udf")
    L["align.udf_s"] = p50([s.dur for s in udf])
    L["align.genomes_per_s"] = (sum(s.attrs["n"] for s in udf) / sum(s.dur for s in udf)) if udf else 0.0
    L["restore.batch_s"] = p50([s.dur for s in tr.named("probe.restore_batch")])


# -- ingest --------------------------------------------------------------------

def ingest(run: Run) -> dict:
    """Large FASTA batches into one growing store, each followed by a
    metadata update."""
    store_dir = os.path.join(run.work, "store")
    with run.tracer.span("setup") as setup:
        run.start_session()
        # batch 0 warms a throw-away store; 1..n are timed, n+1..2n
        # (traced runs) continue the store
        inp, paths, cds = _inputs(run, [INGEST_WARM] + [INGEST_BATCH] * (2 * INGEST_BATCHES))
        _add_batch(run, _store(run, "warm_store", inp, cds), paths["fasta0"], paths["tsv0"])
        st = _store(run, "store", inp, cds)
    known: set[str] = set()   # sequences in the timed store
    windows = {}

    def window(label: str, first: int) -> None:
        with run.tracer.span(label) as win:
            for i in range(first, first + INGEST_BATCHES):
                f, t = paths[f"fasta{i}"], paths[f"tsv{i}"]
                before = dir_usage(store_dir) if run.trace else None
                span, out = run.op("op.ingest_batch", lambda s: _add_batch(run, st, f, t))
                if out is None:
                    continue
                report, n = out
                add = run.tracer.named("store.add", span)[0]
                add.attrs["report"] = report
                if before is not None:
                    after = dir_usage(store_dir)
                    add.attrs.update(files=after[0] - before[0], bytes=after[1] - before[1])
                with run.tracer.span("check"):
                    _check_batch(run, f"ingest batch {i}", report, n, inp.batches[i], known)
        windows[label] = win

    def reopen():
        nonlocal st
        st = _store(run, "store", inp, cds)

    first, traced = 1, 1 + INGEST_BATCHES
    window("window", first)
    if run.trace:
        fasta_bytes = sum(os.path.getsize(paths[f"fasta{i}"]) for i in range(first, traced))
        run.layer["ingest.store_bytes_per_fasta_byte"] = dir_usage(store_dir)[1] / fasta_bytes
        traced_window(run, lambda: window("window.traced", traced), reopen)
        probe = traced     # the first traced batch, its layers timed alone
        accs = [g.accession for g in inp.batches[probe] if g.sequence]
        _ingest_probes(run, st, paths[f"fasta{probe}"], paths[f"tsv{probe}"], accs)
        _write_layers(run, st, windows["window.traced"])
        _probe_layers(run)
        finish_trace(run, windows["window.traced"], "op.ingest_batch", windows["window"])

    ops = run.ok_ops("op.ingest_batch", windows["window"])
    adds = [run.tracer.named("store.add", s)[0] for s in ops]
    added = sum(a.attrs["report"]["added_accessions"] for a in adds)
    return {
        "setup_s": setup.dur,
        "items_per_s": added / sum(a.dur for a in adds) if adds else None,
        "op_p50_s": p50([s.dur for s in ops]) if ops else None,
        "op_p90_s": p90([s.dur for s in ops]) if ops else None,
        "window_s": op_wall(run, windows["window"]),
    }


# -- screen --------------------------------------------------------------------

def _aa_token(ref: str, cds, m: G.Mutation) -> str | None:
    """The amino-acid token of a lineage SNP inside a single-exon CDS."""
    from covsonar_spark.functions.genetics import translate

    for c in cds:
        if len(c.coords) == 1 and c.start <= m.pos < c.end:
            i = (m.pos - c.start) // 3
            codon = ref[c.start + 3 * i:c.start + 3 * i + 3]
            alt = list(codon)
            alt[(m.pos - c.start) % 3] = m.alt
            a, b = translate(codon), translate("".join(alt))
            if a != b and "*" not in a + b:
                return f"{c.symbol}:{a}{i + 1}{b}"
    return None


def make_queries(inp: G.Inputs, cds, seed: int, n: int) -> list:
    """A seeded pool of ``n`` match queries cycling through the ten
    templates, so every run's mix has the same composition: profile AND
    (SNP plus the lineage's deletion), OR groups, excludes,
    IUPAC-ambiguous and trailing-N tokens, lineage with sublineages,
    date + zip, ct + lab, frameshift filters, and amino-acid token
    counts."""
    from covsonar_spark.operators.match import MatchQuery

    rng = random.Random(seed * 7919 + 17)
    lins = sorted(inp.lineages)
    snps = {ln: [m for m in inp.lineages[ln] if m.kind == "snp"] for ln in lins}
    own_del = {ln: [m for m in inp.lineages[ln] if m.kind == "del"] for ln in lins}
    aas = [t for ln in lins for m in snps[ln] if (t := _aa_token(inp.reference, cds, m))]
    iupac_over = {b: [k for k, v in O.IUPAC_NT.items() if b in v and len(v) == 3] for b in "ACGT"}

    def snp(ln=None):
        return rng.choice(snps[ln or rng.choice(lins)])

    def profile_and():
        ln = rng.choice(lins)
        toks = [snp(ln).token, snp(ln).token]
        if own_del[ln]:
            toks.append(own_del[ln][0].token)
        return MatchQuery(profiles=[toks])

    def ambiguous():
        m = snp()
        return MatchQuery(profiles=[[f"{m.ref}{m.pos + 1}{rng.choice(iupac_over[m.alt])}"]])

    def any_change():
        m = snp()
        return MatchQuery(profiles=[[f"{m.ref}{m.pos + 1}N"]])

    def dated():
        a = G.FIRST_DATE + datetime.timedelta(days=rng.randrange(G.N_DAYS - 120))
        b = a + datetime.timedelta(days=rng.randint(30, 120))
        return MatchQuery(dates=[f"{a}:{b}"], zips=[str(rng.randint(1, 9))])

    templates = [
        profile_and,
        lambda: MatchQuery(profiles=[[snp().token], [snp().token]]),
        lambda: MatchQuery(profiles=[[snp().token]], exclude_profiles=[[snp().token]]),
        ambiguous,
        any_change,
        lambda: MatchQuery(lineages=[rng.choice(lins)], with_sublineage=True),
        dated,
        lambda: MatchQuery(min_ct=round(rng.uniform(14, 25), 1), max_ct=round(rng.uniform(26, 36), 1),
                           labs=[rng.choice(G.LABS)], count=True),
        lambda: MatchQuery(frameshifts=rng.choice((1, -1)), lineages=[rng.choice(lins)],
                           with_sublineage=True, count=True),
        lambda: MatchQuery(profiles=[[rng.choice(aas) if aas else snp().token]], count=True),
    ]
    assert len(templates) == SCREEN_TEMPLATES
    return [templates[k % len(templates)]() for k in range(n)]


def _model(st):
    return O.StoreModel(st.table("genomes").inputFiles(), st.table("profiles").inputFiles())


def screen(run: Run) -> dict:
    """Match queries against a store built in set-up, a trickle write
    every few queries, then restore and VCF export of a fixed subset."""
    from covsonar_spark.operators.restore import restore_genomes
    from covsonar_spark.operators.vcf import export_vcf

    # the base store, then the trickle batches of both windows
    sizes = [SCREEN_BASE] + [SCREEN_TRICKLE] * (2 * (SCREEN_CYCLES - 1))
    with run.tracer.span("setup") as setup:
        run.start_session()
        inp, paths, cds = _inputs(run, sizes)
        st = _store(run, "store", inp, cds)
        report, n = _add_batch(run, st, paths["fasta0"], paths["tsv0"])
        queries = make_queries(inp, cds, run.seed, SCREEN_TEMPLATES + SCREEN_CYCLES * SCREEN_CYCLE)
        # one match per template: a template's first run pays its plan's
        # code generation, about 0.3 s
        warm_queries, queries = queries[:SCREEN_TEMPLATES], queries[SCREEN_TEMPLATES:]
        for q in warm_queries:
            st.match(q).collect()
        warm = [g.accession for g in inp.batches[0] if g.sequence][:8]
        restore_genomes(st, warm).collect()      # and the tail's first round
        export_vcf(st, os.path.join(run.work, "warm.vcf"), warm)
    known: set[str] = set()
    _check_batch(run, "screen base store", report, n, inp.batches[0], known)
    model = _model(st)
    state = {"trickle": 1}
    windows = {}

    def match(q, traced):
        def go(s):
            with run.tracer.span("match.build"):
                df = st.match(q)
            with run.tracer.span("match.exec"):
                rows = df.collect()
            if traced:
                s.attrs["phases"] = query_phases(df)
            return rows
        return go

    def trickle():
        nonlocal model
        i = state["trickle"]
        state["trickle"] += 1
        f, t = paths[f"fasta{i}"], paths[f"tsv{i}"]
        span, out = run.op("op.trickle", lambda s: _add_batch(run, st, f, t))
        if out is not None:
            run.tracer.named("store.add", span)[0].attrs["report"] = out[0]
            with run.tracer.span("check"):
                _check_batch(run, f"trickle {i}", *out, inp.batches[i], known)
                model = _model(st)

    def window(label: str) -> None:
        traced = label.endswith("traced")
        with run.tracer.span(label) as win:
            for k, q in enumerate(queries):
                if k and k % SCREEN_CYCLE == 0:
                    trickle()
                _, rows = run.op("op.match", match(q, traced))
                if traced:
                    with run.tracer.span("probe.table_build"):
                        st.table("genomes")
                        st.table("profiles")
                if rows is not None:
                    with run.tracer.span("check"):
                        run.check(f"{label} match {k}", O.check_match(q, rows, model, inp.sublineages))
        windows[label] = win

    def restore(accessions):
        with run.tracer.span("restore"):
            return restore_genomes(st, accessions).collect()

    def export(path, accessions):
        with run.tracer.span("vcf.export"):
            return export_vcf(st, path, accessions)

    def tail(label: str) -> None:
        """Rounds of restore and VCF export, each round on its own slice of
        the stored accessions (so no round re-reads another's output)."""
        stored = sorted(r["accession"] for r in model.rows)
        seqhash_of = {r["accession"]: r["seqhash"] for r in model.rows}
        exported = []
        with run.tracer.span(label) as sp:
            for k in range(TAIL_ROUNDS):
                subset = stored[k * RESTORE_SAMPLES:(k + 1) * RESTORE_SAMPLES]
                vcf_subset = stored[k * VCF_SAMPLES:(k + 1) * VCF_SAMPLES]
                vcf_path = os.path.join(run.work, f"subset{k}.vcf")
                _, rows = run.op("op.restore", lambda s: restore(subset))
                if rows is not None:
                    with run.tracer.span("check"):
                        run.check("restore", O.check_restore(rows, seqhash_of, set(subset)))
                _, sites = run.op("op.vcf", lambda s: export(vcf_path, vcf_subset))
                if sites is not None:
                    exported.append((vcf_path, vcf_subset))
        dna_files = st.table("dna_variants").inputFiles()
        for vcf_path, vcf_subset in exported:
            n_sites, samples = O.expected_vcf(model.rows, dna_files, set(vcf_subset),
                                              len(inp.reference))
            run.check("vcf", O.check_vcf(vcf_path, n_sites, samples))
        windows[label] = sp
        windows["vcf_subset"] = vcf_subset

    def reopen():
        nonlocal st
        st = _store(run, "store", inp, cds)

    window("window")
    if run.trace:
        traced_window(run, lambda: window("window.traced"), reopen)
    tail("tail")
    if run.trace:
        _screen_layers(run, st, windows["window.traced"], windows["vcf_subset"])
        probe = _registry_probe(run)
        finish_trace(run, windows["window.traced"], "op.match", windows["window"],
                     extra=[windows["tail"]], probes=[probe])

    win = windows["window"]
    ms = [s.dur for s in run.ok_ops("op.match", win)]
    # genomes restored and exported per second, over every round
    restores, vcf = run.ok_ops("op.restore"), run.ok_ops("op.vcf")
    tail_s = sum(s.dur for s in restores + vcf)
    tail_n = RESTORE_SAMPLES * len(restores) + VCF_SAMPLES * len(vcf)
    return {
        "setup_s": setup.dur,
        "items_per_s": tail_n / tail_s if tail_s else None,
        "op_p50_s": p50(ms) if ms else None,
        "op_p90_s": p90(ms) if ms else None,
        # matches, the trickle add, restores and VCF exports
        "window_s": op_wall(run, win) + op_wall(run, windows["tail"]),
    }


def _screen_layers(run: Run, st, win, vcf_subset) -> None:
    from covsonar_spark.operators.vcf import calls_from_dna_view, dna_view, genotype_matrix

    tr, L = run.tracer, run.layer
    with tr.span("probe.vcf_matrix"):
        calls = calls_from_dna_view(dna_view(st.table("genomes"), st.table("dna_variants")),
                                    vcf_subset)
        genotype_matrix(calls)
    _write_layers(run, st, win)
    matches = run.ok_ops("op.match", win)
    L["match.build_s"] = p50([s.dur for s in tr.named("match.build", win)])
    L["match.exec_s"] = p50([s.dur for s in tr.named("match.exec", win)])
    for p in ("analysis", "optimization", "planning"):
        L[f"match.{p}_s"] = p50([s.attrs["phases"][p] for s in matches if "phases" in s.attrs])
    L["store.table_build_s"] = p50([s.dur for s in tr.named("probe.table_build", win)])
    trickles = run.ok_ops("op.trickle")
    L["screen.trickle_add_p50_s"] = p50([s.dur for s in trickles])
    restores = run.ok_ops("op.restore")
    L["screen.restore_genomes_per_s"] = RESTORE_SAMPLES / p50([s.dur for s in restores]) if restores else 0.0
    vcf = run.ok_ops("op.vcf")
    L["screen.vcf_export_s"] = p50([s.dur for s in vcf])
    L["vcf.matrix_build_s"] = tr.named("probe.vcf_matrix")[0].dur


# -- registry ------------------------------------------------------------------

# A fixed subset of the registry: every query is materialized in full.
# Chosen to cover scan/aggregate, multi-way joins, windows, pandas UDFs,
# similarity joins, graph iteration, sketches and streaming state.
REGISTRY_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
    "agg_percentiles", "events_sessionize", "events_funnel",
    "text_fingerprint", "dedup_minhash_lsh", "ann_cosine_topk",
    "graph_pagerank", "stream_sessionize", "stream_countmin",
    "match_profile_and",
)
REGISTRY_SCALE = 0.5      # of the sf0.01 row counts (lineitem ~30k rows)


def _materialize(df) -> int:
    """Execute ``df`` in full through its own QueryExecution and return
    its row count.  The physical plan is fixed, so every output column is
    computed (``count()`` would prune them), and the planning phases this
    run reports belong to the plan that executes: a noop write would plan
    the query again in a new QueryExecution."""
    return df._jdf.queryExecution().toRdd().count()


def _registry_probe(run: Run):
    """Registry layers (traced run only): one pass over the subset in the
    traced session, each query built after ``clear_run_memos()`` and
    executed in full, its row count checked against its DuckDB twin.
    Returns the probe's span, so the event log folds onto it."""
    import tables as TB

    from covsonar_spark.registry import REGISTRY, clear_run_memos

    sf = os.path.join(run.work, "tables")
    TB.write(TB.build(run.seed, REGISTRY_SCALE), sf)
    rows: dict[str, int] = {}

    def query(name):
        def go(s):
            clear_run_memos()
            with run.tracer.span("registry.build"):
                df = REGISTRY[name][0](run.spark, sf)
            with run.tracer.span("registry.plan"):
                df._jdf.queryExecution().executedPlan()
            s.attrs["phases"] = query_phases(df)
            with run.tracer.span("registry.exec"):
                return _materialize(df)
        return go

    reads = _count_parquet_reads(run, "registry.probe")
    with run.tracer.span("registry.probe") as probe:
        for name in REGISTRY_QUERIES:
            _, n = run.op("op.query", query(name), query=name)
            if n is not None:
                rows[name] = n

    with run.tracer.span("check"):
        twins = _duckdb_counts(sf, REGISTRY_QUERIES, {k: REGISTRY[k][1] for k in REGISTRY_QUERIES})
        for name, n in rows.items():
            want = twins.get(name)
            run.check(f"registry {name}", [] if want is None or n == want else
                      [f"engine rows {n}, DuckDB twin {want}"])

    tr, L = run.tracer, run.layer
    ops = run.ok_ops("op.query", probe)
    L["registry.total_s"] = sum(s.dur for s in ops)
    L["registry.build_s"] = p50([s.dur for s in tr.named("registry.build", probe)])
    L["registry.exec_s"] = p50([s.dur for s in tr.named("registry.exec", probe)])
    for p in ("analysis", "optimization", "planning"):
        L[f"registry.{p}_s"] = p50([s.attrs["phases"][p] for s in ops])
    n_q = max(len(ops), 1)
    L["registry.parquet_reads"] = reads["n"] / n_q
    L["registry.parquet_read_s"] = reads["s"] / n_q
    return probe


def _count_parquet_reads(run: Run, inside: str) -> dict:
    """Count and time ``DataFrameReader.parquet`` calls made while the
    span ``inside`` is open (the registry's schema-inferring table reads)."""
    from pyspark.sql.readwriter import DataFrameReader

    tally = {"n": 0, "s": 0.0}
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        if not run.tracer.is_open(inside):
            return orig(self, *paths, **kw)
        t0 = time.perf_counter()
        try:
            return orig(self, *paths, **kw)
        finally:
            tally["n"] += 1
            tally["s"] += time.perf_counter() - t0

    DataFrameReader.parquet = parquet
    return tally


def _duckdb_counts(sf: str, names, sqls: dict) -> dict:
    import duckdb

    import tables as TB

    con = duckdb.connect()
    try:
        for t in TB.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return {n: con.execute(f"SELECT count(*) FROM ({sqls[n]})").fetchone()[0]
                for n in names if sqls.get(n)}
    finally:
        con.close()


# -- traced runs -------------------------------------------------------------

def traced_window(run: Run, body, reopen=lambda: None) -> None:
    """Restart Spark with the event log on, ``reopen`` what held the old
    session, and run the window again."""
    run.stop_session()
    run.start_session(event_log=True)
    reopen()
    body()


def finish_trace(run: Run, win, op_name: str, untraced_win, extra=(), probes=()) -> None:
    """Fold the event log onto the traced spans and fill the execution,
    coverage, overhead, session and host layer numbers.  Execution totals
    cover the operations of ``win`` and ``extra``; ``probes`` only get
    their jobs attributed."""
    tr, L = run.tracer, run.layer
    run.session_layers()
    jobs = read_event_log(event_log_file(run.event_log_dir))
    for root in probes:
        attribute(tr, jobs, root)
    roots = []
    for root in (win, *extra):
        attribute(tr, jobs, root)
        roots += [s for s in tr.spans if s.parent == root.id and s.name.startswith("op.")]
    totals = exec_totals([j for r in roots for j in jobs_under(tr, r)])
    for k, v in totals.items():
        L[f"exec.{k}"] = v
    busy = sum(r.dur for r in roots) * run.spark.sparkContext.defaultParallelism
    L["exec.slot_busy_frac"] = totals["task_run_s"] / busy if busy else 0.0
    L["trace.coverage_frac"] = coverage(tr, roots)
    ops = [s.dur for s in run.ok_ops(op_name, win)]
    base = [s.dur for s in run.ok_ops(op_name, untraced_win)]
    L["trace.overhead_frac"] = p50(ops) / p50(base) if ops and base else 0.0

    def jobs_per(name):
        return p50([len(jobs_under(tr, s)) for r in (win, *probes) for s in tr.named(name, r)])

    L["match.jobs_per_query"] = jobs_per("op.match")
    L["store.table_build_jobs"] = jobs_per("probe.table_build")
    L["registry.build_jobs"] = jobs_per("registry.build")
    vcf = run.ok_ops("op.vcf")
    vjobs = jobs_under(tr, vcf[-1]) if vcf else []
    L["vcf.jobs"] = len(vjobs)
    L["vcf.exec_s"] = sum(j.completed - j.submitted for j in vjobs)
    run.host_marks()
