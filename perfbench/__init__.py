"""Closed-loop benchmark of the network_iq_spark engine (see README.md)."""
