"""Linkage benchmark: seeded workloads against the public API of
spacy_ann_linker_spark. Run `python3 perfbench/run.py --help`."""
