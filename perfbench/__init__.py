"""End-to-end and per-layer benchmark of the event-streamer engine.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
