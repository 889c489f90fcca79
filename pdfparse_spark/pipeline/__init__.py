"""Spark-side pipeline shell around the pure-Python extraction kernel.

Layering (SURVEY.md §2, §7):
    session.py     — tuned SparkSession factory (Arrow, AQE, worker reuse)
    transcripts.py — deterministic transcript-corpus synthesis (FIXTURES.md §1)
    extract.py     — classify → salt/repartition → mapInArrow kernel (P8,P10,R12)
    pyworker.py    — per-task Python-worker guard: zipimport re-reads an
                     archive only when it changed
    resume.py      — ledger-based checkpoint/resume via anti-join (P12,R4)
    artifact.py    — the shared artifact-and-stream core: stream wiring,
                     tag-checked meta, Hadoop-FS table swaps, scoped
                     persist/checkpoint release, per-batch verdict reads
    metrics.py     — throughput / match-rate aggregates (R5,R14)
    textops.py     — training-data ops: dedup, similarity, text analysis
    multimodal.py  — binary-column plumbing with stubbed decoders
"""
