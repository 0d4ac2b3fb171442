"""The repository's benchmark: ``python3 kgbench/run.py --help``.

Its own tests: ``python3 -m pytest kgbench/tests -q``.
"""
