"""Clinical-pipeline benchmark for edsnlp_spark (run with ``python3 perfbench/run.py``)."""
