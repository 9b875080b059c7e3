"""End-to-end serving benchmark: SQL text (or registry entry) to the last
Arrow batch in the client, over Flight and in-process ``DistEngine``.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
