"""Sources: batch fixture readers and the CDC envelope stream."""
