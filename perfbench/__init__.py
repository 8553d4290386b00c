"""Repository benchmark for the distexec engine; see README.md."""
