"""Link-graph benchmark (see run.py)."""
