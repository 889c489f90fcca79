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
    corpus.py      — shared base of the operator families: tables,
                     tokenize/shingle expressions, tokenized checkpoints
    textdedup.py   — exact / shingle / sketch dedup, clusters, spans
    textquality.py — quality, perplexity, tf-idf and BPE ops
    embed.py       — embedding similarity, ANN, k-means, SemDeDup, PCA
    docorder.py    — deterministic order, sampling, chunking, packing
    curate.py      — the composed curation decision and its legs
    dsir_model.py, lr_model.py, decon_index.py, bloom_index.py,
    ann_index.py   — each a family's gate ops plus its persisted
                     model/index lifecycle and streaming face
    relational.py  — relational operators (R1–R21)
    multimodal.py  — binary-column plumbing with stubbed decoders
"""
